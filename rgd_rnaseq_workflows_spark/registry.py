"""Query registry: every implemented operator as a (Spark plan, oracle SQL)
twin pair over the driver's test tables.

Each entry maps a SURVEY §2 operator (or an LLM-data-pipeline extension) to:
- a callable ``(spark, sf_dir) -> DataFrame`` built from the engine's
  operator modules, and
- the equivalent ANSI SQL the DuckDB oracle runs on the same parquet.

Column names and types are aligned on both sides (the driver's comparator
sorts columns by name and hashes values). Floating aggregates are rounded
identically on both sides to absorb summation-order noise.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.functions import text as TX
from rgd_rnaseq_workflows_spark.functions.hashing import md5_long_sql
from rgd_rnaseq_workflows_spark.operators import dedup as DD
from rgd_rnaseq_workflows_spark.operators import relational as R
from rgd_rnaseq_workflows_spark.operators import sampling as SMP
from rgd_rnaseq_workflows_spark.operators import similarity as SIM
from rgd_rnaseq_workflows_spark.session import engine_session
from rgd_rnaseq_workflows_spark.streaming import events_stream as ST


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: tuple[str, ...] = field(default=tuple)
    note: str = ""
    # False = correctness-oracle gate only (e.g. an exact all-values form
    # that proves an approx/pruned production twin): still cross-checked
    # by the driver, but excluded from the bench headline so the measured
    # engine is the one you'd run at 100 TB
    production: bool = True


REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, survey_ids: tuple[str, ...], oracle: str | None = None,
      note: str = "", production: bool = True):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle,
                                   survey_ids=survey_ids, note=note,
                                   production=production)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table under the engine's documented session
    semantics: UTC timezone (oracle epoch/date arithmetic assumes it)
    and ANSI off (permissive awk-style math — session.py), because the
    driver brings its OWN session where Spark 4 defaults ANSI on.

    The frame is bound to ``session.engine_session`` — a conf-isolated
    sibling session — so the pins hold at *execution* time (whenever
    the caller collects the lazy frame) without ever mutating the
    caller's own ANSI/timezone confs."""
    return engine_session(spark).read.parquet(f"{sf_dir}/{name}.parquet")


def _isum(col, scale: int):
    """Exact sum of a fixed-point double column: scale each row to an
    integer (unambiguous — rows are exact multiples of 1/scale), sum as
    long. Order-independent, so Spark and the oracle agree bit-for-bit —
    unlike summing doubles, where partition order shifts the last bit and
    can flip a round() at a .005 boundary.

    SQL twin: ``CAST(sum(CAST(round(x * scale) AS BIGINT)) AS BIGINT)``.
    int64 headroom: 2-decimal money scaled by 1e4 leaves ~2^49 of row
    count headroom; a 100 TB deployment with wider values would move to
    DecimalType (also exact) at the same call sites.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * scale).cast("long"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS), which Spark's parquet reader
    rejects by default; read nanos as long and convert to a microsecond
    timestamp (floor — matches DuckDB's ns→s flooring in the oracles).
    The engine sibling session carries nanosAsLong + UTC + ANSI-off."""
    df = engine_session(spark).read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif ts_type == "timestamp_ntz":
        # micro-precision testdata reads as NTZ; session TZ is pinned UTC,
        # so the ntz→ltz cast preserves the same epoch DuckDB computes
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# =============================================================================
# Flagship: pricing summary (TPC-H Q1 shape) — AGG partial+final, arithmetic,
# rounding; the matrix-style "per-group many measures" aggregation (AGG6/F9/F15)
# =============================================================================

@q("q1_pricing_summary", ("AGG6", "F9", "F15", "SRT1"), oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_base_price,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0
         AS sum_disc_price,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0
         AS sum_charge,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 / count(*)
         AS avg_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / count(*)
         AS avg_price,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0 / count(*)
         AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""", note="exact fixed-point aggregation: scale to int64 per row, sum exactly")
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count("*")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg((_isum("l_quantity", 100) / 100.0).alias("sum_qty"),
                 (_isum("l_extendedprice", 100) / 100.0).alias("sum_base_price"),
                 (_isum(disc_price, 10000) / 10000.0).alias("sum_disc_price"),
                 (_isum(charge, 1000000) / 1000000.0).alias("sum_charge"),
                 (_isum("l_quantity", 100) / 100.0 / n).alias("avg_qty"),
                 (_isum("l_extendedprice", 100) / 100.0 / n).alias("avg_price"),
                 (_isum("l_discount", 100) / 100.0 / n).alias("avg_disc"),
                 F.count("*").alias("count_order")))


# =============================================================================
# Projections / filters (PRJ3, F1/F2, FIL4-8, F11-F13)
# =============================================================================

@q("prj3_computed_projection", ("PRJ3", "F1", "F2", "F4"), oracle="""
SELECT c_custkey,
       concat_ws('_', c_mktsegment, CAST(c_nationkey AS VARCHAR),
                 CAST(c_custkey AS VARCHAR))                  AS unique_name,
       trim(replace(c_name, ',', ''))                         AS clean_name,
       str_split(c_name, '#')[-1]                             AS name_suffix
FROM customer
""", note="unique_name concat (run_RNApipeline:286) + trim/de-comma (pSTARQC_v1.sh:55-56)")
def prj3_computed_projection(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws("_", "c_mktsegment",
                    F.col("c_nationkey").cast("string"),
                    F.col("c_custkey").cast("string")).alias("unique_name"),
        F.trim(F.regexp_replace("c_name", ",", "")).alias("clean_name"),
        F.element_at(F.split("c_name", "#"), -1).alias("name_suffix"))


@q("fil4_threshold_status", ("FIL4", "F11", "AGG5"), oracle="""
SELECT status, count(*) AS n
FROM (SELECT CASE WHEN l_discount * 100 < 5.0 THEN 'PASS' ELSE 'FAIL' END AS status
      FROM lineitem)
GROUP BY status
""", note="unmapped_pct<50→PASS analog (pSTARQC_v1.sh:93-94)")
def fil4_threshold_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    status = F.when(F.col("l_discount") * 100 < 5.0, "PASS").otherwise("FAIL")
    return (li.select(status.alias("status"))
            .groupBy("status").agg(F.count("*").alias("n")))


@q("fil6_regex_predicates", ("FIL6", "FIL7"), oracle="""
SELECT p_partkey, p_name, p_type
FROM part
WHERE regexp_matches(p_type, '^(ECONOMY|STANDARD)')
  AND NOT regexp_matches(p_name, 'green')
  AND p_retailprice <> 0.0
""", note="keep ^chr / drop ^NW_ / drop zero analog (GeneTPMbed_v2.sh:122-124)")
def fil6_regex_predicates(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (p.filter(F.col("p_type").rlike("^(ECONOMY|STANDARD)")
                     & ~F.col("p_name").rlike("green")
                     & (F.col("p_retailprice") != 0.0))
            .select("p_partkey", "p_name", "p_type"))


@q("fil8_in_list_slice", ("FIL8",), oracle="""
SELECT n_name, n_nationkey
FROM nation
WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7', 'NATION_11', 'NATION_13')
""", note="six-sex-genes IN-list analog (ConflictedSampleReport_v4.sh:30)")
def fil8_in_list_slice(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return (n.filter(F.col("n_name").isin(
        "NATION_1", "NATION_3", "NATION_5", "NATION_7", "NATION_11",
        "NATION_13"))
        .select("n_name", "n_nationkey"))


@q("f13_case_buckets", ("F13",), oracle="""
SELECT bucket, count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
FROM (SELECT CASE WHEN o_totalprice <= 500 THEN 'gray'
                  WHEN o_totalprice <= 5000 THEN 'light_blue'
                  WHEN o_totalprice <= 50000 THEN 'blue'
                  ELSE 'dark_blue' END AS bucket,
             o_totalprice
      FROM orders)
GROUP BY bucket
""", note="4-bucket TPM→RGB binning analog (GeneTPMbed_v2.sh:52-63)")
def f13_case_buckets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bucket = (F.when(F.col("o_totalprice") <= 500, "gray")
              .when(F.col("o_totalprice") <= 5000, "light_blue")
              .when(F.col("o_totalprice") <= 50000, "blue")
              .otherwise("dark_blue"))
    return (o.select(bucket.alias("bucket"), "o_totalprice")
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 (_isum("o_totalprice", 100) / 100.0).alias("total")))


# =============================================================================
# Joins (JN1-JN6, SET3)
# =============================================================================

@q("jn1_semi_join", ("JN1",), oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
""", note="awk hash semi-join on PASS set (run_RNApipeline:429-431)")
def jn1_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    keys = (o.filter(F.col("o_orderstatus") == "F")
            .select(F.col("o_custkey").alias("c_custkey")))
    return R.semi_join_filter(c, keys, "c_custkey") \
            .select("c_custkey", "c_name", "c_mktsegment")


@q("set3_anti_join", ("SET3",), oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
""", note="FAIL set = unique − PASS, made explicit (run_RNApipeline:434-436)")
def set3_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return R.anti_join(c, o.select(F.col("o_custkey").alias("c_custkey")),
                       "c_custkey").select("c_custkey", "c_name")


@q("jn2_broadcast_annotate", ("JN2",), oracle="""
SELECT p.p_brand AS brand,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""", note="awk in-memory map join (GeneTPMbed_v2.sh:96) → broadcast hash join")
def jn2_broadcast_annotate(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = R.broadcast_annotate(li, p, li.l_partkey == p.p_partkey)
    dp = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (joined.groupBy(F.col("p_brand").alias("brand"))
            .agg((_isum(dp, 10000) / 10000.0).alias("revenue"),
                 F.count("*").alias("n_items")))


@q("jn3_merge_join", ("JN3", "SRT1"), oracle="""
SELECT o.o_orderkey, o.o_orderpriority,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
       count(*) AS n_lines
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY o.o_orderkey, o.o_orderpriority
""", note="coreutils sort|join matrix merge (combine_multStrategy:242-245)")
def jn3_merge_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = _t(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey", "o_orderpriority")
            .agg((_isum(dp, 10000) / 10000.0).alias("revenue"),
                 F.count("*").alias("n_lines")))


@q("jn5_lookup_default", ("JN5", "F10"), oracle="""
WITH europe AS (
  SELECT n.n_nationkey, n.n_name
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE')
SELECT s.s_suppkey, s.s_name,
       coalesce(e.n_name, 'Unknown') AS nation_name
FROM supplier s LEFT JOIN europe e ON s.s_nationkey = e.n_nationkey
""", note="left-join lookup w/ Unknown default (BWjson_v7.sh:79-87)")
def jn5_lookup_default(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    europe = (n.join(r, n.n_regionkey == r.r_regionkey)
              .filter(F.col("r_name") == "EUROPE")
              .select(F.col("n_nationkey").alias("s_nationkey"),
                      F.col("n_name").alias("nation_name")))
    return (R.lookup_with_default(s, europe, "s_nationkey",
                                  "nation_name", "Unknown")
            .select("s_suppkey", "s_name", "nation_name"))


@q("jn6_outer_validation", ("JN6", "AGG10"), oracle="""
SELECT
  count(*) FILTER (WHERE o.o_custkey IS NULL)    AS customers_without_orders,
  count(*) FILTER (WHERE c.c_custkey IS NULL)    AS orphan_order_customers,
  count(*) FILTER (WHERE c.c_custkey IS NOT NULL
               AND o.o_custkey IS NOT NULL)      AS matched
FROM customer c
FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o
  ON c.c_custkey = o.o_custkey
""", note="positional-zip assert → full-outer null check (rsem-generate-data-matrix:46-69)")
def jn6_outer_validation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.agg(
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("customers_without_orders"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("orphan_order_customers"),
        F.count(F.when(F.col("c_custkey").isNotNull()
                       & F.col("o_custkey").isNotNull(), 1)).alias("matched"))


# =============================================================================
# Aggregations (AGG1-AGG9)
# =============================================================================

@q("agg1_count_distinct", ("AGG1",), oracle="""
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""", note="distinct GSM count (sample_counting.sh:48-55) — exact, drives scheduling")
def agg1_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n_customers"),
                 F.count("*").alias("n_orders")))


@q("agg2_collect_sorted_list", ("AGG2", "F1"), oracle="""
SELECT o_custkey AS custkey,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_list,
       count(*) AS n
FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
""", note="runs-per-sample comma-joined lists (run_RNApipeline:281,289-290)")
def agg2_collect_sorted_list(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    lst = R.collect_group_list(o, "o_custkey", "o_orderkey", alias="order_list")
    n = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    return (lst.join(n, "o_custkey")
            .select(F.col("o_custkey").alias("custkey"), "order_list", "n"))


@q("agg3_first_per_group", ("AGG3",), oracle="""
SELECT o_custkey AS custkey,
       arg_min(o_orderstatus, o_orderkey)  AS first_status,
       arg_min(o_orderpriority, o_orderkey) AS first_priority
FROM orders GROUP BY o_custkey
""", note="first-matching-row metadata (awk '{print; exit}', run_RNApipeline:284)")
def agg3_first_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = R.first_per_group(o, "o_custkey", "o_orderkey",
                            ["o_orderstatus", "o_orderpriority"])
    return out.select(F.col("o_custkey").alias("custkey"),
                      F.col("o_orderstatus").alias("first_status"),
                      F.col("o_orderpriority").alias("first_priority"))


@q("agg4_dedup_keep_first", ("AGG4", "WIN2"), oracle="""
SELECT o_custkey AS custkey, o_orderkey, o_orderstatus
FROM (SELECT o_custkey, o_orderkey, o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
WHERE rn = 1
""", note="sort -u keep-first dedup, pinned deterministic (run_RNApipeline:362-366)")
def agg4_dedup_keep_first(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = R.dedup_keep_first(o, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return out.select(F.col("o_custkey").alias("custkey"),
                      "o_orderkey", "o_orderstatus")


@q("agg7_binned_rate", ("AGG7", "SNK7"), oracle="""
WITH counts AS (
  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
         count(*) AS n
  FROM events GROUP BY event_type, bin)
SELECT event_type, bin, n,
       round(n * 1e6 / (SELECT sum(n) FROM counts), 4) AS per_million
FROM counts
""", note="bamCoverage 10bp-bin BPM normalization (STAR_bigwig2.sh:245-251)")
def agg7_binned_rate(spark, sf_dir):
    e = _events(spark, sf_dir)
    return R.binned_rate(e, ["event_type"], "value", 10.0)


@q("agg8_ratio_classify", ("AGG8", "F10", "F11", "F12"), oracle="""
WITH pivoted AS (
  SELECT user_id,
         coalesce(CAST(sum(CAST(round(value * 100) AS BIGINT)) FILTER (WHERE event_type = 'click') AS BIGINT), 0) / 100.0 AS click_value,
         coalesce(CAST(sum(CAST(round(value * 100) AS BIGINT)) FILTER (WHERE event_type = 'view') AS BIGINT), 0) / 100.0 AS view_value
  FROM events GROUP BY user_id)
SELECT user_id, click_value, view_value,
       CASE WHEN view_value = 0 THEN NULL
            ELSE round(click_value / view_value, 4) END AS ratio,
       CASE WHEN view_value = 0 OR click_value / view_value > 1.0
            THEN 'HIGH' ELSE 'LOW' END AS class
FROM pivoted
""", note="chrX/chrY coverage ratio + Inf guard + threshold sex call (ComputeSex_v5.sh:111-129)")
def agg8_ratio_classify(spark, sf_dir):
    e = _events(spark, sf_dir)
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    pv = (e.groupBy("user_id")
          .agg((F.coalesce(_isum(click, 100), F.lit(0)) / 100.0).alias("click_value"),
               (F.coalesce(_isum(view, 100), F.lit(0)) / 100.0).alias("view_value")))
    ratio = (F.when(F.col("view_value") == 0, F.lit(None))
             .otherwise(F.round(F.col("click_value") / F.col("view_value"), 4)))
    cls = (F.when((F.col("view_value") == 0)
                  | (F.col("click_value") / F.col("view_value") > 1.0), "HIGH")
           .otherwise("LOW"))
    return (pv.withColumn("ratio", ratio).withColumn("class", cls))


@q("agg9_histogram", ("AGG9",), oracle="""
SELECT n_orders, count(*) AS n_customers
FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
GROUP BY n_orders
""", note="runs-per-GSM distribution (sample_counting.sh:64)")
def agg9_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return per.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@q("aggp1_pivot_matrix", ("AGG-P1", "SNK2"), oracle="""
SELECT n.n_name AS Symbol,
       coalesce(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) FILTER (WHERE o.o_orderpriority = '1-URGENT') AS BIGINT), 0) / 100.0 AS p1,
       round(coalesce(sum(o.o_totalprice) FILTER (WHERE o.o_orderpriority = '2-HIGH'), 0), 2)   AS p2,
       coalesce(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) FILTER (WHERE o.o_orderpriority = '3-MEDIUM') AS BIGINT), 0) / 100.0 AS p3,
       coalesce(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) FILTER (WHERE o.o_orderpriority = '4-NOT SPECIFIED') AS BIGINT), 0) / 100.0 AS p4,
       round(coalesce(sum(o.o_totalprice) FILTER (WHERE o.o_orderpriority = '5-LOW'), 0), 2)    AS p5
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""", note="feature×sample matrix pivot (RSEMmatrix_v5.sh:76-113) with pinned column list")
def aggp1_pivot_matrix(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    joined = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    wide = (joined.groupBy(F.col("n_name").alias("Symbol"))
            .pivot("o_orderpriority", pris)
            .agg(_isum("o_totalprice", 100) / 100.0))
    renames = dict(zip(pris, ["p1", "p2", "p3", "p4", "p5"]))
    out = wide
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # pivot leaves NULL for absent cells; reference matrix cells default 0
    for new in renames.values():
        out = out.withColumn(new, F.coalesce(F.col(new), F.lit(0.0)))
    return out


# =============================================================================
# Windows / ranking / sorts (WIN1, WIN2, SRT, LIM, top-k)
# =============================================================================

@q("win1_dense_rank_palette", ("WIN1",), oracle="""
SELECT n_name, CAST(dense_rank() OVER (ORDER BY n_name) - 1 AS BIGINT) % 10 AS palette_idx
FROM nation
""", note="palette cycling by first-appearance rank (make_jbrowse_session:33-39,81-145)")
def win1_dense_rank_palette(spark, sf_dir):
    n = _t(spark, sf_dir, "nation").select("n_name")
    out = R.dense_rank_palette(n, ["n_name"], 10)
    return out.select("n_name", F.col("palette_idx").cast("long").alias("palette_idx"))


@q("win2_topk_per_group", ("WIN2", "LIM1"), oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
""", note="top-K per group — rank window (extension of head/tail limits §2.6)")
def win2_topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = R.topk_per_group(o, ["o_orderpriority"],
                           [F.desc("o_totalprice"), F.asc("o_orderkey")], 3)
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


@q("srt_topk_global", ("SRT2", "LIM1"), oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 10
""", note="multi-key sort + limit (GeneTPMbed_v2.sh:141; sample_counting.sh:31)")
def srt_topk_global(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
            .limit(10))


# =============================================================================
# Set operations (SET1, SET2)
# =============================================================================

@q("set1_union", ("SET1",), oracle="""
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000
""", note="report-table union w/ dedup (combine_multStrategy:135-152)")
def set1_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment")
    return a.unionByName(b).distinct()


@q("set2_intersect", ("SET2",), oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""", note="duplicate sample dirs via comm -12 (combine_multStrategy:506-532)")
def set2_intersect(spark, sf_dir):
    e = _events(spark, sf_dir)
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


# =============================================================================
# Semi-structured scan (SRC3/SRC7 analog): JSON key-value extraction
# =============================================================================

@q("src7_json_extract", ("SRC7", "SRC3", "F16"), oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) * 1.0 / count(*) AS avg_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""", note="JSON document field extraction (make_jbrowse_session:62-70 / kv scan pSTARQC_v1.sh:50-61)")
def src7_json_extract(spark, sf_dir):
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (e.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 (F.sum(k) * 1.0 / F.count("*")).alias("avg_k"),
                 F.max(k).alias("max_k")))


# =============================================================================
# Streaming-shaped (batch twins; SURVEY §2.9 extension)
# =============================================================================

@q("stream_window_agg", ("STREAM-WIN",), oracle="""
SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS window_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
""", note="watermarked tumbling window agg — batch twin of streaming/events_stream.py")
def stream_window_agg(spark, sf_dir):
    e = _events(spark, sf_dir)
    return ST.windowed_counts(e, "1 hour")


@q("stream_sliding_topk", ("STREAM-SLIDE",), oracle="""
WITH w AS (
  SELECT event_type,
         (CAST(floor(epoch(ts) / 900) AS BIGINT) - k.k) * 900
           AS window_start
  FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k),
c AS (SELECT window_start, event_type, count(*) AS n FROM w GROUP BY 1, 2),
r AS (SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rk
      FROM c)
SELECT window_start, event_type, n, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3
""", note="sliding-window trending: 1h windows sliding 15min (each event "
          "lands in 4 windows — the oracle enumerates the same starts), "
          "top-3 event types per window; the rank window sees only "
          "metadata-scale (window × type) rows. Streaming twin: "
          "events_stream.stream_sliding_counts (watermark bounds state "
          "to window/slide live windows)")
def stream_sliding_topk(spark, sf_dir):
    e = _events(spark, sf_dir)
    return ST.sliding_topk(e, k=3, window="1 hour", slide="15 minutes")


@q("stream_sessionize", ("STREAM-SESS",), oracle="""
WITH marked AS (
  SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts))
, sess AS (
  SELECT user_id, tsec,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked)
SELECT user_id, session_id, count(*) AS n_events,
       min(tsec) AS session_start_epoch,
       max(tsec) - min(tsec) AS session_seconds
FROM sess GROUP BY user_id, session_id
""", note="lag-gap sessionization (streaming twin: session_window)")
def stream_sessionize(spark, sf_dir):
    e = _events(spark, sf_dir)
    return ST.sessionize(e, gap_minutes=30)


def _funnel_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import funnel_report_sql
    return funnel_report_sql("events", ("view", "click", "purchase"))


@q("events_funnel", ("FUNNEL",), oracle=_funnel_oracle(),
   note="ordered 3-step funnel (view -> click -> purchase): step k = "
        "earliest step-k event strictly after step k-1, epoch-second "
        "integer semantics; ONE shuffle (groupBy user collecting "
        "per-step sorted second-arrays), step chain is a pure codegen "
        "array expression - generalizes the reference's per-sample "
        "QC->align->quantify stage gating to event sequences")
def events_funnel(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import funnel_report
    e = _events(spark, sf_dir)
    return funnel_report(e, ("view", "click", "purchase"))


def _funnel_windowed_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import funnel_report_sql
    return funnel_report_sql("events", ("view", "click", "purchase"),
                             max_gap_seconds=86_400)


@q("events_funnel_windowed", ("FUNNEL-WIN",),
   oracle=_funnel_windowed_oracle(),
   note="the same funnel under a 1-day conversion window: step k must "
        "land within max_gap of step k-1 (first-chance - a later event "
        "outside the window never counts); identical one-shuffle plan, "
        "the window is one more codegen predicate")
def events_funnel_windowed(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import funnel_report
    e = _events(spark, sf_dir)
    return funnel_report(e, ("view", "click", "purchase"),
                         max_gap_seconds=86_400)


def _session_funnel_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        session_funnel_report_sql)
    return session_funnel_report_sql("events", ("view", "click",
                                                "purchase"),
                                     gap_minutes=30)


@q("events_session_funnel", ("FUNNEL-SESS",),
   oracle=_session_funnel_oracle(),
   note="the funnel confined to ONE lag-gap session (30 min): the "
        "funnel unit is the (user, session) pair, so a step completed "
        "in a later session never counts - sessionize window + the "
        "same one-shuffle funnel, two user-scale shuffles total")
def events_session_funnel(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        session_funnel_report)
    e = _events(spark, sf_dir)
    return session_funnel_report(e, ("view", "click", "purchase"),
                                 gap_minutes=30)


def _cohort_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        cohort_retention_sql)
    return cohort_retention_sql("events")


@q("events_cohort_retention", ("COHORT",), oracle=_cohort_oracle(),
   note="cohort retention matrix: users cohorted by first-activity "
        "epoch-day, (cohort, offset) active-user counts + retention "
        "fraction; all integer-bucket semantics, three compact-key "
        "shuffles, cohort sizes broadcast back")
def events_cohort_retention(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        cohort_retention)
    return cohort_retention(_events(spark, sf_dir))


@q("stream_interval_join", ("STREAM-JOIN",), oracle="""
SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       CAST(floor(epoch(c.ts)) AS BIGINT)
         - CAST(floor(epoch(v.ts)) AS BIGINT) AS lag_seconds
FROM events c JOIN events v
  ON v.user_id = c.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
""", note="event-time interval join (attribution shape) — batch twin of "
          "the watermark-bounded stream-stream join "
          "(streaming/events_stream.py::stream_interval_join; "
          "stream-equals-batch asserted in tests/test_streaming.py)")
def stream_interval_join_q(spark, sf_dir):
    e = _events(spark, sf_dir)
    return ST.interval_join(e.filter(F.col("event_type") == "click"),
                            e.filter(F.col("event_type") == "view"),
                            max_lag="1 hour")


# =============================================================================
# Dedup family (LLM-data-pipeline extensions)
# =============================================================================

@q("dedup_exact_stats", ("DEDUP-EXACT",), oracle="""
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct,
       count(*) - count(DISTINCT md5(text)) AS n_dupes
FROM documents GROUP BY source
""", note="exact dedup via content hash groupBy")
def dedup_exact_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_distinct"),
                 (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes")))


def _minhash_oracle(num_hashes: int = 8, band_size: int = 2,
                    shingle_n: int = 2, threshold: float = 0.8) -> str:
    from rgd_rnaseq_workflows_spark.operators.dedup import (
        MINHASH_P, minhash_params)
    sh_expr = TX.shingles_sql("text", shingle_n)
    base = f"(({md5_long_sql('s')}) % {1 << 30})"
    mins = ",\n         ".join(
        f"MIN(({base} * {a} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes)))
    n_bands = num_hashes // band_size
    band_selects = []
    for b in range(n_bands):
        cols = " || '_' || ".join(
            f"CAST(h{b * band_size + r} AS VARCHAR)" for r in range(band_size))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, "
            f"{md5_long_sql(f'({cols})')} AS band_hash FROM sig")
    bands = " UNION ALL ".join(band_selects)
    return f"""
WITH sh AS (SELECT doc_id, unnest({sh_expr}) AS s FROM documents),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b USING (band_idx, band_hash)
         WHERE a.doc_id < b.doc_id),
sets AS (SELECT doc_id, {sh_expr} AS sh FROM documents)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(x.sh || y.sh)), 4) AS jaccard
  FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b)
WHERE jaccard >= {threshold}
"""


@q("dedup_minhash_lsh", ("DEDUP-MINHASH",), oracle=_minhash_oracle(),
   note="MinHash(8)→LSH(4 bands of 2)→exact-Jaccard verify; portable md5 hash family")
def dedup_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_dedup_pairs(d, num_hashes=8, band_size=2,
                                  shingle_n=2, threshold=0.8)


def _cross_minhash_oracle(num_hashes: int = 8, band_size: int = 2,
                          shingle_n: int = 2, threshold: float = 0.8,
                          split_mod: int = 5) -> str:
    from rgd_rnaseq_workflows_spark.operators.dedup import (
        MINHASH_P, minhash_params)
    sh_expr = TX.shingles_sql("text", shingle_n)
    base = f"(({md5_long_sql('s')}) % {1 << 30})"
    mins = ",\n         ".join(
        f"MIN(({base} * {a} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes)))
    n_bands = num_hashes // band_size

    def bands(sig: str) -> str:
        sels = []
        for b in range(n_bands):
            cols = " || '_' || ".join(
                f"CAST(h{b * band_size + r} AS VARCHAR)"
                for r in range(band_size))
            sels.append(f"SELECT doc_id, {b} AS band_idx, "
                        f"{md5_long_sql(f'({cols})')} AS band_hash "
                        f"FROM {sig}")
        return " UNION ALL ".join(sels)

    return f"""
WITH newd AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id % {split_mod} = 0),
oldd AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id % {split_mod} <> 0),
shn AS (SELECT doc_id, unnest({sh_expr}) AS s FROM newd),
sho AS (SELECT doc_id, unnest({sh_expr}) AS s FROM oldd),
sign AS (SELECT doc_id, {mins} FROM shn GROUP BY doc_id),
sigo AS (SELECT doc_id, {mins} FROM sho GROUP BY doc_id),
bandsn AS ({bands('sign')}),
bandso AS ({bands('sigo')}),
cand AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
         FROM bandsn n JOIN bandso o USING (band_idx, band_hash)),
setsn AS (SELECT doc_id, {sh_expr} AS sh FROM newd),
setso AS (SELECT doc_id, {sh_expr} AS sh FROM oldd)
SELECT id_new, id_old, jaccard FROM (
  SELECT id_new, id_old,
         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(x.sh || y.sh)), 4) AS jaccard
  FROM cand JOIN setsn x ON x.doc_id = id_new
            JOIN setso y ON y.doc_id = id_old)
WHERE jaccard >= {threshold}
"""


@q("dedup_cross_corpus", ("DEDUP-CROSS-CORPUS",),
   oracle=_cross_minhash_oracle(),
   note="incremental-ingestion near-dup: a new crawl slice (doc_id%5=0) "
        "deduped AGAINST the existing lake (the rest) - the band join is "
        "new x old only, never a lake self-join; same md5 minhash "
        "family as dedup_minhash_lsh so stored lake signatures are "
        "reusable delta-over-delta")
def dedup_cross_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0)
    old = d.filter(F.col("doc_id") % 5 != 0)
    return DD.cross_corpus_minhash_pairs(new, old, num_hashes=8,
                                         band_size=2, shingle_n=2,
                                         threshold=0.8)


def _simhash_fps_ctes(bits: int = 16, seed: int = 101,
                      shingle_n: int = 1) -> str:
    """CTE chain ending in ``fps(doc_id, simhash)`` — the naive per-bit
    ±1 vote form of ``operators.dedup.simhash`` (whose packed-lane
    aggregation is provably identical)."""
    feats = (f"list_distinct({TX.tokens_sql('text')})" if shingle_n == 1
             else TX.shingles_sql("text", shingle_n))
    votes = ",\n       ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits))
    fp = " + ".join(f"CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END"
                    for j in range(bits))
    return f"""
WITH toks AS (SELECT doc_id, unnest({feats}) AS t FROM documents),
h AS (SELECT doc_id, {md5_long_sql('t', seed=seed)} AS hv FROM toks),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes)"""


def _simhash_oracle(bits: int = 16, seed: int = 101) -> str:
    return _simhash_fps_ctes(bits, seed) + \
        "\nSELECT doc_id, simhash FROM fps\n"


@q("dedup_simhash", ("DEDUP-SIMHASH",), oracle=_simhash_oracle(),
   note="16-bit SimHash fingerprint per doc (engine default 32/64-bit)")
def dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.simhash(d, bits=16, seed=101)


def _ngram_pairs_sql(src: str = "documents", shingle_n: int = 2,
                     threshold: float = 0.8) -> str:
    """Naive blocked all-pairs Jaccard SQL over any doc-shaped relation
    ``src(doc_id, lang, text)`` — the oracle twin of the PPJoin operator,
    reusable as a sub-CTE (cluster keepers, corpus curation)."""
    return f"""
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
  FROM (SELECT doc_id, lang, {TX.shingles_sql('text', shingle_n)} AS sh
        FROM {src}) a
  JOIN (SELECT doc_id, lang, {TX.shingles_sql('text', shingle_n)} AS sh
        FROM {src}) b
    ON a.lang = b.lang AND a.doc_id < b.doc_id)
WHERE jaccard >= {threshold}
"""


@q("dedup_ngram_jaccard", ("DEDUP-NGRAM",), oracle=_ngram_pairs_sql(),
   note="blocked all-pairs 2-gram Jaccard (block = lang)")
def dedup_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, block_col="lang", shingle_n=2,
                                  threshold=0.8)


def _cluster_keepers_oracle() -> str:
    """Recursive-CTE fixpoint twin of the iterative min-label propagation:
    comp(v) = min id reachable from v over the SAME pair edges the
    dedup_ngram_jaccard oracle computes."""
    pairs_sql = REGISTRY["dedup_ngram_jaccard"].oracle.strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
comps AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
SELECT comp, CAST(count(*) AS BIGINT) AS n_members,
       min(id) AS keeper_id
FROM comps GROUP BY comp
"""


@q("dedup_cluster_keepers", ("DEDUP-CLUSTERS",),
   oracle=None,  # set after definition — composes the ngram oracle text
   note="near-dup pairs → connected components → per-cluster keeper: "
        "iterative min-label propagation (one join + one agg per round, "
        "localCheckpoint-truncated lineage); oracle = recursive-CTE "
        "reachability fixpoint over the identical edge set")
def dedup_cluster_keepers(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.components import cluster_keepers
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, block_col="lang", shingle_n=2,
                                   threshold=0.8)
    return cluster_keepers(pairs)


REGISTRY["dedup_cluster_keepers"].oracle = _cluster_keepers_oracle()


# =============================================================================
# Text analysis (LLM-data-pipeline extensions)
# =============================================================================

@q("text_quality_features", ("TEXT-QUALITY",), oracle="""
SELECT doc_id,
       {n_chars_measured} AS n_chars_measured,
       {n_tokens} AS n_tokens,
       {n_punct} AS n_punct,
       {stopword_ratio} AS stopword_ratio,
       {chars_per_token} AS chars_per_token
FROM documents
""".format(**TX.quality_features_sql("text")),
   note="length/punct/stopword quality features, all codegen'd")
def text_quality_features(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", *TX.quality_features("text"))


@q("text_lang_id", ("TEXT-LANGID",), oracle=f"""
SELECT lang, lang_pred, count(*) AS n FROM (
  SELECT lang, {TX.lang_id_sql('text')} AS lang_pred FROM documents)
GROUP BY lang, lang_pred
""", note="stopword-vote language ID vs labeled lang — confusion matrix")
def text_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.select("lang", TX.lang_id("text").alias("lang_pred"))
            .groupBy("lang", "lang_pred").agg(F.count("*").alias("n")))


@q("text_token_stats", ("TEXT-TOKENS",), oracle=f"""
SELECT source,
       CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS total_tokens,
       CAST(sum({TX.token_count_sql('text')}) AS BIGINT) * 1.0 / count(*) AS avg_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""", note="token counting (whitespace) aggregated per source")
def text_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tc = TX.token_count("text")
    return (d.groupBy("source")
            .agg(F.sum(tc).alias("total_tokens"),
                 (F.sum(tc) * 1.0 / F.count("*")).alias("avg_tokens"),
                 F.sum(F.length("text")).cast("long").alias("total_chars")))


@q("text_fingerprint", ("TEXT-FINGERPRINT",), oracle=f"""
SELECT doc_id, {TX.fingerprint_sql('text', 3)} AS fingerprint
FROM documents
""", note="min-hash document fingerprint over 3-gram shingles (rolling-hash analog)")
def text_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text", 3).alias("fingerprint"))


# =============================================================================
# Similarity search (LLM-data-pipeline extensions)
# =============================================================================

@q("ann_cosine_topk", ("ANN-BRUTE",), oracle="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6)
         AS cosine_sim
FROM embeddings
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
""", note="brute-force cosine top-10 vs vec_id=0; per-partition TakeOrdered, no shuffle")
def ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qv = SIM.query_vector(emb, 0)
    return SIM.brute_force_topk(emb, qv, k=10)


def _margin_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        margin_alignment_sql)
    return margin_alignment_sql(
        "(SELECT *, label // 2 AS blk FROM embeddings "
        "WHERE label % 2 = 0)",
        "(SELECT *, label // 2 AS blk FROM embeddings "
        "WHERE label % 2 = 1)",
        k=4, min_margin_ppm=1_200_000, block_col="blk")


@q("ann_margin_alignment", ("ANN-MARGIN",), oracle=_margin_oracle(),
   note="bitext-shape alignment mining, BLOCKED production form: "
        "candidates join equi on the aligned-shard key (label pair "
        "here; LSH bucket / cluster id in production), best cross-set "
        "match kept only when top-1 cosine beats the mean of its top-4 "
        "by margin >= 1.2 (Artetxe-Schwenk) - micro-cosine integers + "
        "one bigint floor division, engine-exact kept set")
def ann_margin_alignment(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        margin_alignment)
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "blk", F.expr("label div 2"))
    return margin_alignment(emb.filter(F.col("label") % 2 == 0),
                            emb.filter(F.col("label") % 2 == 1),
                            k=4, min_margin_ppm=1_200_000,
                            block_col="blk")


def _margin_ivf_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        margin_alignment_ivf_sql)
    return margin_alignment_ivf_sql(
        "(SELECT * FROM embeddings WHERE label % 2 = 0)",
        "(SELECT * FROM embeddings WHERE label % 2 = 1)",
        kc=8, nprobe=2, iters=2, k=4, min_margin_ppm=1_200_000)


@q("ann_margin_ivf", ("ANN-MARGIN-IVF",), oracle=_margin_ivf_oracle(),
   note="margin alignment with IVF blocking - the 100 TB form whose "
        "block cardinality tracks the corpus (kc ∝ N / list size): "
        "coarse k-means fits on the lake side, each left vector probes "
        "its nprobe nearest lists, margin gate on the list join; "
        "exact-int centroid machinery so the unrolled-Lloyd SQL twin "
        "replays the same lists")
def ann_margin_ivf(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        margin_alignment_ivf)
    emb = _t(spark, sf_dir, "embeddings")
    return margin_alignment_ivf(emb.filter(F.col("label") % 2 == 0),
                                emb.filter(F.col("label") % 2 == 1),
                                kc=8, nprobe=2, iters=2, k=4,
                                min_margin_ppm=1_200_000)


@q("ann_embedding_neardup", ("ANN-NEARDUP",), oracle="""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
SELECT id_a, id_b, cosine_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.ve, b.ve), 6) AS cosine_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
WHERE NOT isnan(cosine_sim) AND cosine_sim >= 0.4
""", note="embedding-cosine near-dup pairs, label-blocked equi-join (never cross); "
          "NaN (zero-norm) pairs excluded on every path")
def ann_embedding_neardup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dup(emb, block_col="label", threshold=0.4)


# =============================================================================
# Training-mix construction (LLM-data-pipeline extensions, round 3)
# =============================================================================

_MIX_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 0.1}


@q("stratified_hash_sample", ("SAMPLE-STRATA",),
   oracle=SMP.stratified_hash_sample_sql(
       "documents", "lang", _MIX_FRACTIONS, "doc_id", seed=7, default=0.05),
   note="training-mix sampling: per-language keep rates via md5 bucket of "
        "doc_id — a pure filter (no shuffle), deterministic across engines "
        "and cluster sizes; the oracle reproduces the exact kept set")
def stratified_hash_sample_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return SMP.stratified_hash_sample(d, "lang", _MIX_FRACTIONS, "doc_id",
                                      seed=7, default=0.05)


def _contamination_oracle(shingle_n: int = 4, min_shared: int = 1) -> str:
    sh = TX.shingles_sql("text", shingle_n)
    return f"""
WITH d AS (SELECT doc_id, source, {sh} AS sh FROM documents),
bench AS (SELECT DISTINCT unnest(sh) AS s FROM d WHERE source = 'src0'),
docsh AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
          FROM d WHERE source <> 'src0'),
hits AS (SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM docsh JOIN bench USING (s) GROUP BY doc_id, n_sh)
SELECT doc_id, n_shingles, n_shared,
       round(CAST(n_shared AS DOUBLE) / n_shingles, 4) AS overlap_ratio
FROM hits WHERE n_shared >= {min_shared}
"""


@q("contamination_ngram", ("CONTAM-NGRAM",), oracle=_contamination_oracle(),
   note="benchmark decontamination: corpus docs sharing 4-gram shingles "
        "with the src0 'eval set' — benchmark shingles broadcast, corpus "
        "never shuffled, only matched rows reach the per-doc agg")
def contamination_ngram(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.contamination import (
        contamination_report)
    d = _t(spark, sf_dir, "documents")
    return contamination_report(d.filter(F.col("source") != "src0"),
                                d.filter(F.col("source") == "src0"),
                                shingle_n=4, min_shared=1)


def _pii_spike_sql() -> str:
    """Deterministic PII spike so the redaction patterns FIRE on the
    synthetic corpus (which contains none): same concat on both engines."""
    return ("text || ' contact user' || CAST(doc_id AS VARCHAR)"
            " || '@example.com id ' || CAST(doc_id * 7919 + 10007 AS VARCHAR)"
            " || ' http://ex.com/d/' || CAST(doc_id AS VARCHAR)")


def _pii_redact_oracle() -> str:
    counts = TX.pii_counts_sql("sp")
    cols = ",\n       ".join(f"{sql} AS {name}" for name, sql in counts.items())
    return f"""
WITH s AS (SELECT doc_id, {_pii_spike_sql()} AS sp FROM documents)
SELECT doc_id, {TX.redact_pii_sql('sp')} AS clean,
       {cols}
FROM s
"""


@q("text_redact_pii", ("TEXT-PII",), oracle=_pii_redact_oracle(),
   note="PII scrub: email/URL/digit-run spans replaced by typed "
        "placeholders + per-class audit counts, all chained regexp codegen "
        "(patterns written to the Java-regex ∩ RE2 common subset)")
def text_redact_pii(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    spiked = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com id "),
        (F.col("doc_id") * 7919 + 10007).cast("string"),
        F.lit(" http://ex.com/d/"), F.col("doc_id").cast("string"))
    return d.select("doc_id", TX.redact_pii(spiked).alias("clean"),
                    *TX.pii_counts(spiked))


# =============================================================================
# Round 4 — clustering / semantic dedup / repetition quality / packing
# =============================================================================

def _kmeans_summary_oracle(k: int = 10, iters: int = 2) -> str:
    from rgd_rnaseq_workflows_spark.operators.clustering import (
        SCALE, kmeans_assign_cte)
    return f"""
WITH {kmeans_assign_cte(k=k, iters=iters)},
cd AS (
  SELECT a.c, p.d, CAST(sum(p.xi) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM pts p JOIN af a USING (vec_id) GROUP BY a.c, p.d),
norms AS (
  SELECT c, CAST(max(n) AS BIGINT) AS n_members,
         round(sqrt(CAST(sum(s * s) AS DOUBLE)) / (max(n) * {SCALE}), 6)
           AS centroid_norm
  FROM cd GROUP BY c),
top AS (
  SELECT c, label AS top_label, CAST(n_lab AS BIGINT) AS top_label_n FROM (
    SELECT a.c, e.label, count(*) AS n_lab,
           row_number() OVER (PARTITION BY a.c
                              ORDER BY count(*) DESC, e.label) AS rk
    FROM af a JOIN embeddings e ON e.vec_id = a.vec_id
    GROUP BY a.c, e.label)
  WHERE rk = 1)
SELECT CAST(norms.c AS INTEGER) AS cluster, n_members, centroid_norm,
       top_label, top_label_n
FROM norms JOIN top ON norms.c = top.c
"""


@q("kmeans_embeddings", ("KMEANS",), oracle=_kmeans_summary_oracle(),
   note="distributed Lloyd k-means (k=10, 2 assignment passes): exact "
        "fixed-point distance numerators (int64 on every engine), "
        "centroids as driver-side metadata like MLlib; per-cluster size, "
        "exact-int centroid norm, majority label")
def kmeans_embeddings(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators import clustering as CL
    emb = _t(spark, sf_dir, "embeddings")
    return CL.kmeans_summary(CL.kmeans_assign(emb, k=10, iters=2))


def _semdedup_oracle(k: int = 10, iters: int = 2,
                     threshold: float = 0.4) -> str:
    from rgd_rnaseq_workflows_spark.operators.clustering import (
        kmeans_assign_cte)
    return f"""
WITH {kmeans_assign_cte(k=k, iters=iters)},
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(av.ve, bv.ve), 6) AS cs
  FROM af a JOIN af b ON a.c = b.c AND a.vec_id < b.vec_id
  JOIN v av ON av.vec_id = a.vec_id
  JOIN v bv ON bv.vec_id = b.vec_id),
dropped AS (SELECT DISTINCT id_b FROM pr WHERE cs >= {threshold})
SELECT CAST(a.c AS INTEGER) AS cluster,
       count(*) AS n_members,
       CAST(sum(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(count(*) - sum(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM af a LEFT JOIN dropped d ON a.vec_id = d.id_b
GROUP BY a.c
"""


@q("semdedup_embeddings", ("SEMDEDUP",), oracle=_semdedup_oracle(),
   note="SemDeDup: k-means cluster then drop members with a smaller-id "
        "near-neighbor (cosine >= 0.4) inside their cluster — "
        "cluster-blocked equi pair join, anti-join keeper rule, no "
        "component loop")
def semdedup_embeddings(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators import clustering as CL
    emb = _t(spark, sf_dir, "embeddings")
    return CL.semdedup(emb, k=10, iters=2, threshold=0.4)


def _quality_repetition_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        repetition_report_sql)
    return repetition_report_sql("documents")


@q("quality_repetition", ("QUAL-REP", "FIL4"),
   oracle=_quality_repetition_oracle(),
   note="Gopher-rule repetition gate: duplicate-token fraction (array "
        "ops, zero shuffle) + most-common-bigram coverage (one "
        "map-side-combined agg) -> PASS/FAIL status")
def quality_repetition(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        repetition_report)
    return repetition_report(_t(spark, sf_dir, "documents"))


def _ngram_coverage_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ngram_coverage_report_sql)
    return ngram_coverage_report_sql("documents", n=4)


@q("dedup_ngram_coverage", ("DEDUP-COVER",), oracle=_ngram_coverage_oracle(),
   note="cross-document duplicated 4-gram coverage per doc (the "
        "linear-scan scoring half of suffix-array substring dedup): "
        "gram-frequency side reduced to duplicated gram TYPES before "
        "the join back")
def dedup_ngram_coverage(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ngram_coverage_report)
    return ngram_coverage_report(_t(spark, sf_dir, "documents"), n=4)


def _pack_sequences_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.packing import pack_chunks_sql
    return pack_chunks_sql("documents", ctx=512)


@q("pack_sequences", ("PACK",), oracle=_pack_sequences_oracle(),
   note="concat-and-chunk sequence packing into 512-token windows: "
        "two-phase distributed prefix sum (bucket-partitioned windows + "
        "metadata-scale bucket offsets), never one global window")
def pack_sequences(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.packing import pack_chunks
    return pack_chunks(_t(spark, sf_dir, "documents"), ctx=512)


def _shard_corpus_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.packing import shard_corpus_sql
    return shard_corpus_sql("documents", n_shards=16, seed=11)


@q("corpus_shard_manifest", ("SHARD",), oracle=_shard_corpus_oracle(),
   note="deterministic pseudorandom corpus sharding (md5-bucket shard + "
        "md5 within-shard order): the scale-safe global shuffle — no "
        "global sort, one map-side-combined agg; per-shard doc/token/"
        "lang manifest with min_by/max_by shard-order endpoints")
def corpus_shard_manifest(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.packing import shard_corpus
    return shard_corpus(_t(spark, sf_dir, "documents"), n_shards=16, seed=11)


def _tfidf_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        tfidf_top_terms_sql)
    return tfidf_top_terms_sql("documents", k=5)


@q("text_tfidf_top_terms", ("TFIDF",), oracle=_tfidf_oracle(),
   note="top-5 TF-IDF terms per language: tf shuffles (lang,term) with "
        "map-side combine, df dedups per-doc BEFORE exploding (term "
        "types, not occurrences), join moves the vocabulary not the "
        "corpus; exact-int tf/df so scores are IEEE-identical")
def text_tfidf_top_terms(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


def _quantize_report_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quantization import (
        quantize_report_sql)
    return quantize_report_sql("embeddings")


@q("ann_quantize_report", ("QUANT",), oracle=_quantize_report_oracle(),
   note="symmetric per-vector int8 quantization audit: per-label count, "
        "exact fixed-point mean scale, saturated-component count — the "
        "4x memory cut that makes a 100 TB ANN corpus fit executor RAM; "
        "pure projection, zero shuffle before the k-row agg")
def ann_quantize_report(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quantization import (
        quantize_report)
    return quantize_report(_t(spark, sf_dir, "embeddings"))


def _int8_topk_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quantization import (
        int8_topk_sql)
    return int8_topk_sql("embeddings", query_id=7, k=10)


@q("ann_int8_topk", ("ANN-INT8",), oracle=_int8_topk_oracle(),
   note="quantized ANN: exact int Sum(qa*qb) dot (SIMD class, zero float "
        "accumulation) descaled by two per-vector scales; broadcast "
        "1-row query + TakeOrdered, corpus never shuffled")
def ann_int8_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quantization import int8_topk
    return int8_topk(_t(spark, sf_dir, "embeddings"), query_id=7, k=10)


def _pq_topk_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.pq import pq_topk_sql
    return pq_topk_sql("embeddings", query_id=7, k=10, m=4, k_codes=8,
                       iters=2, dims=64)


@q("ann_pq_topk", ("ANN-PQ",), oracle=_pq_topk_oracle(),
   note="product-quantization ANN (Jegou 2011 shape): per-subspace "
        "exact-int Lloyd codebooks, m one-byte codes per vector (64x "
        "memory cut), query answers via a driver-side ADC table — "
        "scoring is m array lookups + an exact integer sum, zero "
        "per-pair float math; corpus never shuffled or joined")
def ann_pq_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.pq import pq_topk
    return pq_topk(_t(spark, sf_dir, "embeddings"), query_id=7, k=10,
                   m=4, k_codes=8, iters=2)


def _pq_rerank_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.pq import pq_topk_sql
    return pq_topk_sql("embeddings", query_id=7, k=10, m=4, k_codes=8,
                       iters=2, dims=64, rerank=40)


@q("ann_pq_rerank_topk", ("ANN-PQ-RERANK",), oracle=_pq_rerank_oracle(),
   note="PQ with exact rerank (FAISS IndexRefineFlat shape) — the "
        "PRODUCTION retrieval path: ADC coarse-ranks, the tie-COMPLETE "
        "top-40 pool (every row at or below the 40th ADC distance — an "
        "id-tiebroken LIMIT drops whole code-cell tie groups) re-scores "
        "by exact fixed-point integer L2; recall@10 measured 0.0 -> "
        "0.9-1.0 in tools/ann_scale.py")
def ann_pq_rerank_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.pq import pq_topk
    return pq_topk(_t(spark, sf_dir, "embeddings"), query_id=7, k=10,
                   m=4, k_codes=8, iters=2, rerank=40)


def _ivfpq_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.pq import ivfpq_topk_sql
    return ivfpq_topk_sql("embeddings", query_id=7, k=10, kc=10, nprobe=3,
                          c_iters=2, m=4, k_codes=8, iters=2, dims=64)


@q("ann_ivfpq_topk", ("ANN-IVFPQ",), oracle=_ivfpq_oracle(),
   note="IVF+PQ (FAISS IVFADC shape): coarse spherical k-means inverted "
        "lists, query probes its 3 nearest of 10 lists (exact-int "
        "centroid ranking, driver metadata), PQ/ADC scores only probed "
        "members via a semi-join — scan cost drops to nprobe/kc of the "
        "corpus, zero per-pair float math")
def ann_ivfpq_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.pq import ivfpq_topk
    return ivfpq_topk(_t(spark, sf_dir, "embeddings"), query_id=7, k=10,
                      kc=10, nprobe=3, c_iters=2, m=4, k_codes=8, iters=2)


def _temperature_mix_oracle() -> str:
    return SMP.temperature_mix_sql(
        "documents", "lang", "doc_id", total_fraction=0.3, seed=7,
        cols="d.doc_id, d.lang")


@q("sample_temperature_mix", ("SAMPLE-TEMP",),
   oracle=_temperature_mix_oracle(),
   note="temperature-resampled language mix (mT5 alpha=0.5): stratum "
        "weight proportional to sqrt(count) via exact-bigint fixed-point "
        "numerators, per-stratum keep rate broadcast back, kept set a "
        "pure md5-bucket filter — one metadata agg, corpus never "
        "shuffled; every double op explicitly ordered so both engines "
        "round identically")
def sample_temperature_mix(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return SMP.temperature_mix(d, "lang", "doc_id", total_fraction=0.3,
                               seed=7).select("doc_id", "lang", "mix_bps")


def _cap_per_source_oracle() -> str:
    return SMP.cap_per_key_sql("documents", "source", 30, "doc_id", seed=3,
                               cols="doc_id, source")


@q("cap_per_source", ("FREQ-CAP",), oracle=_cap_per_source_oracle(),
   note="per-source frequency capping (crawl domain caps): keep <= 30 "
        "docs per source chosen by md5(seed:id) rank — two-phase salted "
        "top-K so a hot domain splits across 8 salt partitions instead "
        "of one window task; phase 1 is lossless for the final top-K, "
        "oracle is the plain single-window form")
def cap_per_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return SMP.cap_per_key(d, "source", 30, "doc_id", seed=3) \
        .select("doc_id", "source", "keep_rank")


def _snapshot_diff_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        snapshot_diff_report_sql)
    new_src = ("(SELECT doc_id, CASE WHEN doc_id % 17 = 0 "
               "THEN text || ' v2' ELSE text END AS text "
               "FROM documents WHERE doc_id % 13 <> 0)")
    return snapshot_diff_report_sql("documents", new_src)


@q("corpus_snapshot_diff", ("SNAP-DIFF",), oracle=_snapshot_diff_oracle(),
   note="dataset-versioning diff between corpus releases: md5 content "
        "fingerprints full-outer joined on the doc key (16 bytes/doc "
        "move, never the text; bucketed snapshots make it zero-exchange) "
        "— added/removed/modified/unchanged counts. Snapshot B here is "
        "derived deterministically (drop id%13, edit id%17) so the diff "
        "exercises every label")
def corpus_snapshot_diff(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        snapshot_diff_report)
    d = _t(spark, sf_dir, "documents")
    new = (d.filter(F.col("doc_id") % 13 != 0)
           .withColumn("text", F.when(F.col("doc_id") % 17 == 0,
                                      F.concat(F.col("text"), F.lit(" v2")))
                       .otherwise(F.col("text"))))
    return snapshot_diff_report(d, new)


def _split_leakage_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import split_assign_sql
    pairs_sql = REGISTRY["dedup_ngram_jaccard"].oracle.strip()
    split = split_assign_sql("doc_id", seed=13)
    return f"""
WITH pairs AS ({pairs_sql}),
s AS (SELECT doc_id, {split} AS split FROM documents),
j AS (
  SELECT least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi
  FROM pairs JOIN s sa ON sa.doc_id = pairs.id_a
             JOIN s sb ON sb.doc_id = pairs.id_b)
SELECT split_lo, split_hi, count(*) AS n_pairs
FROM j GROUP BY split_lo, split_hi
"""


@q("split_leakage_report", ("SPLIT-LEAK",), oracle=None,  # set below
   note="train/val/test split hygiene: deterministic md5-bucket split "
        "(80/10/10, a property of the KEY — stable under repartitioning) "
        "joined onto the near-dup pair set; off-diagonal rows are "
        "LEAKAGE (a test doc with a train near-duplicate) — the "
        "contamination mode n-gram decontamination can't see. The pair "
        "base is the same PPJoin plan the dedup family uses; the split "
        "join is two broadcast-size lookups")
def split_leakage_report(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.plans.neardup import leakage_report
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, block_col="lang", shingle_n=2,
                                   threshold=0.8)
    return leakage_report(pairs, d, seed=13)


REGISTRY["split_leakage_report"].oracle = _split_leakage_oracle()


def _bpe_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.bpe import train_bpe_sql
    return train_bpe_sql("documents", rounds=4)


@q("tokenizer_bpe_merges", ("BPE-TRAIN",), oracle=_bpe_oracle(),
   note="distributed BPE vocabulary training (4 merges): corpus touched "
        "ONCE (word counts, map-side combined); every merge round runs on "
        "the vocabulary table and collects one driver-metadata row; merge "
        "application is a pinned left fold (oracle reproduces it as a "
        "positional recursive CTE) — integer counts, deterministic "
        "tie-breaks, no floats anywhere")
def tokenizer_bpe_merges(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.bpe import train_bpe
    return train_bpe(_t(spark, sf_dir, "documents"), rounds=4)


def _bigram_lm_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        bigram_lm_report_sql)
    return bigram_lm_report_sql("documents")


@q("quality_bigram_lm", ("BIGRAM-LM",), oracle=_bigram_lm_oracle(),
   note="self-trained bigram-LM familiarity (CCNet shape, integer-exact): "
        "corpus bigram table via one map-side-combined groupBy, per-doc "
        "familiarity/hapax sums via a train-score shuffle join on the "
        "bigram key; exact BIGINT sums so the unordered agg is "
        "engine-identical (a float log-prob sum could not be "
        "value-oracled)")
def quality_bigram_lm(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import bigram_lm_report
    return bigram_lm_report(_t(spark, sf_dir, "documents"))


def _kn_lm_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        kn_lm_report_sql)
    return kn_lm_report_sql("documents")


@q("quality_kn_perplexity", ("KN-LM",), oracle=_kn_lm_oracle(),
   note="Kneser-Ney smoothed bigram perplexity per document (the "
        "KenLM/CCNet quality scorer): continuation-count smoothing "
        "distinguishes frequent-but-context-bound bigrams from truly "
        "productive ones; every LM stat is an exact BIGINT, each "
        "distinct bigram's -ln P is rounded to a micro-nat BIGINT once, "
        "and the per-doc total is the integer sum cnt*nll6 — the "
        "bm25_topk discipline applied to a log-prob sum")
def quality_kn_perplexity(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import kn_lm_report
    return kn_lm_report(_t(spark, sf_dir, "documents"))


def _length_outlier_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        length_outlier_report_sql)
    return length_outlier_report_sql("documents", by="source",
                                     value_col="n_chars", k=3)


@q("quality_length_outliers", ("ROBUST-MAD",),
   oracle=_length_outlier_oracle(),
   note="robust per-source outlier gate: EXACT integer median + MAD "
        "via the bounded-domain histogram trick (corpus rows fold "
        "map-side into (source, n_chars) counts; the median is a "
        "running-sum walk over the domain-scale histogram - the "
        "scale-honest exact-percentile path, unlike the buffering "
        "agg_percentiles), |x-med| > 3*MAD counted in pure integers")
def quality_length_outliers(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        length_outlier_report)
    return length_outlier_report(_t(spark, sf_dir, "documents"),
                                 by="source", value_col="n_chars", k=3)


def _pmi_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        pmi_collocations_sql)
    return pmi_collocations_sql("documents", top_k=50, min_count=5)


@q("text_pmi_collocations", ("PMI",), oracle=_pmi_oracle(),
   note="top-50 adjacent-word collocations by exact-integer LIFT (the "
        "monotone twin of PMI - no log enters the oracle); products in "
        "IEEE doubles (bigint would wrap at corpus scale), ties cut by "
        "(w1,w2); TakeOrdered, never a global sort")
def text_pmi_collocations(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        pmi_collocations)
    return pmi_collocations(_t(spark, sf_dir, "documents"), top_k=50,
                            min_count=5)


def _term_head_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        term_head_report_sql)
    return term_head_report_sql("documents", by="source", top_k=10)


@q("text_zipf_head_stats", ("ZIPF-HEAD",), oracle=_term_head_oracle(),
   note="per-source Zipf/Heaps corpus-shape diagnostics: exact "
        "type/token/hapax counts + top-10 head mass (deterministic "
        "tie-break), ratios as single divisions of exact integers; "
        "top-k is two-phase (per-md5-bucket then per-source) so no "
        "single reducer ever sorts a whole source's vocabulary")
def text_zipf_head_stats(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        term_head_report)
    return term_head_report(_t(spark, sf_dir, "documents"), by="source",
                            top_k=10)


# =============================================================================
# public accessors
# =============================================================================

# The correctness driver records a bounded window (50 rows) per round in
# registry order.  Queries that have not yet had a recorded oracle row in any
# prior round are surfaced first so every registry entry accumulates a
# recorded pass; the remaining order is registration (module) order.
_RECORD_FIRST: tuple[str, ...] = (
    # round-13 window, regenerated from tools/rotation_check.py
    # --plan: the 25 never-stamped queries lead, then the
    # stalest stamped rows (r8) fill the 50 slots oldest-first.
    # r12 re-recorded r11's window, so 98 rows are older than the
    # 3-round rule allows; one 50-row window cannot hold them
    # all, and the rotation drains them over the next rounds.
    "ann_hard_negatives_ivf",
    "pack_padding_report",
    "profile_l_diversity",
    "sample_neyman_allocation",
    "dedup_minhash_diversity",
    "dedup_source_overlap",
    "profile_join_explosion",
    "profile_mutual_information",
    "quality_classifier_train",
    "cluster_label_silhouette",
    "dedup_priority_keepers",
    "text_hill_tail_index",
    "sample_bootstrap_ci",
    "profile_benford_audit",
    "events_disorder_report",
    "profile_group_trend",
    "profile_dp_noisy_counts",
    "graph_assortativity",
    "graph_lpa_communities",
    "events_funnel_wilson",
    "quality_conformal_threshold",
    "basket_association_rules",
    "events_cusum_changepoint",
    "text_readability",
    "profile_t_closeness",
    "fil6_regex_predicates",
    "fil8_in_list_slice",
    "f13_case_buckets",
    "jn1_semi_join",
    "set3_anti_join",
    "jn2_broadcast_annotate",
    "jn5_lookup_default",
    "jn6_outer_validation",
    "agg1_count_distinct",
    "agg2_collect_sorted_list",
    "agg3_first_per_group",
    "agg4_dedup_keep_first",
    "agg9_histogram",
    "win1_dense_rank_palette",
    "win2_topk_per_group",
    "set1_union",
    "set2_intersect",
    "stream_sliding_topk",
    "stratified_hash_sample",
    "contamination_ngram",
    "text_redact_pii",
    "kmeans_embeddings",
    "semdedup_embeddings",
    "quality_repetition",
    "dedup_ngram_coverage",
)


def _ordered_names() -> list[str]:
    head = [n for n in _RECORD_FIRST if n in REGISTRY]
    tail = [n for n in REGISTRY if n not in _RECORD_FIRST]
    return head + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name].oracle for name in _ordered_names()
            if REGISTRY[name].oracle is not None}


# =============================================================================
# Batch 2 — as-of / range joins, rollup, percentiles, date & template scalars
# =============================================================================

@q("asof_join_events", ("ASOF",), oracle="""
WITH ordered AS (
  SELECT event_id, user_id, event_type, value, ts,
         last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
           OVER w AS asof_value,
         last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
           OVER w AS asof_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id, 1
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, value AS purchase_value,
       asof_value AS last_click_value,
       CAST(floor((epoch_us(ts) - asof_us) / 1000000) AS BIGINT) AS seconds_since_click
FROM ordered WHERE event_type = 'purchase'
""", note="as-of join via union+window (no join explosion, one shuffle) — operators/asof.py")
def asof_join_events(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.asof import asof_join
    e = _events(spark, sf_dir).withColumn("us", F.unix_micros("ts"))
    probe = (e.filter(F.col("event_type") == "purchase")
             .select("event_id", "user_id", "us",
                     F.col("value").alias("purchase_value")))
    ref = (e.filter(F.col("event_type") == "click")
           .select(F.col("event_id").alias("click_id"), "user_id", "us",
                   F.col("value").alias("click_value"),
                   F.col("us").alias("click_us")))
    # order by (µs, event_id): µs is the cross-engine-stable resolution
    out = asof_join(probe.withColumnRenamed("event_id", "eid")
                    .withColumn("event_id", F.col("eid")),
                    ref.withColumnRenamed("click_id", "eid"),
                    keys=["user_id"], order_cols=["us", "eid"],
                    payload_cols=["click_value", "click_us"])
    return out.select(
        "event_id", "user_id", "purchase_value",
        F.col("asof_click_value").alias("last_click_value"),
        F.floor((F.col("us") - F.col("asof_click_us")) / 1_000_000)
        .cast("long").alias("seconds_since_click"))


@q("range_join_dim", ("RANGE-JOIN",), oracle="""
WITH bins(bucket, lo, hi) AS (VALUES
  ('xs', 0.0, 10.0), ('s', 10.0, 20.0), ('m', 20.0, 35.0), ('l', 35.0, 1e9))
SELECT b.bucket, count(*) AS n,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_price
FROM lineitem l JOIN bins b ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
GROUP BY b.bucket
""", note="range join against small dim — broadcast + non-equi predicate (BNLJ on tiny side)")
def range_join_dim(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # same-session dim: frames joined together must share the engine
    # sibling session (_t binds li there)
    bins = li.sparkSession.createDataFrame(
        [("xs", 0.0, 10.0), ("s", 10.0, 20.0), ("m", 20.0, 35.0),
         ("l", 35.0, 1e9)], ["bucket", "lo", "hi"])
    j = li.join(F.broadcast(bins),
                (F.col("l_quantity") >= F.col("lo"))
                & (F.col("l_quantity") < F.col("hi")))
    return (j.groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 (_isum("l_extendedprice", 100) / 100.0).alias("total_price")))


@q("rollup_aggregate", ("ROLLUP",), oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""", note="grouping-set rollup (SURVEY §2.4 'not present' — beyond-parity, built-in)")
def rollup_aggregate(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 (_isum("l_quantity", 100) / 100.0).alias("sum_qty")))


@q("agg_percentiles", ("PCTL",), oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.5)  AS p50,
       quantile_cont(l_extendedprice, 0.9)  AS p90,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""", note="ORACLE GATE ONLY (production=False, excluded from the bench "
          "headline): exact linear-interpolation percentiles, identical "
          "math both engines, buffering all values per group. The "
          "production percentile path is agg_percentiles_approx "
          "(mergeable GK sketch, bounded memory).",
   production=False)
def agg_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
                 F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
                 F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
                 F.max("l_extendedprice").alias("max_price")))


@q("agg_percentiles_approx", ("PCTL-APPROX",), oracle="""
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.25) AS p25,
       quantile_disc(l_extendedprice, 0.5)  AS p50,
       quantile_disc(l_extendedprice, 0.9)  AS p90,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""", note="the 100 TB percentile path: approx_percentile's mergeable "
          "Greenwald-Khanna sketch streams in bounded memory, vs exact "
          "percentile() buffering every value per group (a scale-killer); "
          "at oracle scale the 1e-6 rank error is < 1 row, so it equals "
          "the discrete quantile exactly")
def agg_percentiles_approx(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pcts = F.expr("approx_percentile(l_extendedprice, "
                  "array(0.25, 0.5, 0.9), 1000000)")
    return (li.groupBy("l_returnflag")
            .agg(pcts.getItem(0).alias("p25"),
                 pcts.getItem(1).alias("p50"),
                 pcts.getItem(2).alias("p90"),
                 F.max("l_extendedprice").alias("max_price")))


@q("win3_running_total", ("WIN-FRAME",), oracle="""
SELECT o_custkey AS custkey, o_orderkey,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) / 100.0 AS running_total
FROM orders
""", note="frame-spec running aggregate (SURVEY §2.5 'not present' — extension)")
def win3_running_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(F.col("o_custkey").alias("custkey"), "o_orderkey",
                    (F.sum(cents).over(w) / 100.0).alias("running_total"))


@q("win4_lead_lag", ("WIN-LAG",), oracle="""
SELECT o_custkey AS custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT)
         - CAST(floor(epoch(lag(o_orderdate) OVER w)) AS BIGINT) AS seconds_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""", note="lead/lag window (SURVEY §2.5 'not present' — extension)")
def win4_lead_lag(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # parquet gives TIMESTAMP_NTZ; session TZ is pinned UTC, so the
    # ntz→tz→long cast is the same epoch DuckDB computes
    sec = F.col("o_orderdate").cast("timestamp").cast("long")
    return o.select(
        F.col("o_custkey").alias("custkey"), "o_orderkey",
        (sec - F.lag(sec).over(w)).alias("seconds_since_prev"))


@q("f16_date_arithmetic", ("F16", "F14"), oracle="""
SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start_epoch,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1
""", note="timestamp bucketing/arithmetic (ComputeSex_v5.sh:73; sjdbOverhang=len-1)")
def f16_date_arithmetic(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.unix_timestamp(F.date_trunc("month", "o_orderdate"))
                      .alias("month_start_epoch"))
            .agg(F.count("*").alias("n_orders"),
                 F.countDistinct("o_custkey").alias("n_customers")))


@q("f17_url_template", ("F17", "F1"), oracle="""
SELECT s_suppkey,
       'https://rgd.mcw.edu/rgdweb/report/main.html?id=' || CAST(s_suppkey AS VARCHAR)
         || '&name=' || replace(s_name, ' ', '%20') AS url
FROM supplier
""", note="URL templating from columns (BWjson_v7.sh:139)")
def f17_url_template(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.concat(F.lit("https://rgd.mcw.edu/rgdweb/report/main.html?id="),
                 F.col("s_suppkey").cast("string"),
                 F.lit("&name="),
                 F.regexp_replace("s_name", " ", "%20")).alias("url"))


# =============================================================================
# Batch 3 — BPE-ish tokenization, IVF ANN, corpus curation composite
# =============================================================================

BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@q("text_bpe_tokens", ("TEXT-BPE",), oracle=f"""
SELECT source,
       CAST(sum(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
         AS bpe_tokens,
       CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS ws_tokens
FROM documents GROUP BY source
""", note="BPE-ish regex token counting vs whitespace tokens, per source")
def text_bpe_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bpe = F.regexp_count("text", F.lit(BPE_PATTERN)).cast("long")
    return (d.groupBy("source")
            .agg(F.sum(bpe).alias("bpe_tokens"),
                 F.sum(TX.token_count("text")).alias("ws_tokens")))


@q("ann_ivf_topk", ("ANN-IVF",), oracle="""
WITH e AS (
  SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings),
centroid AS (                      -- exact integer centroid components
  SELECT label, d, CAST(sum(CAST(round(x * 10000000) AS BIGINT)) AS BIGINT) AS c
  FROM e GROUP BY label, d),
qv AS (
  SELECT d, CAST(round(x * 10000000) AS BIGINT) AS qx
  FROM e WHERE vec_id = 0),
label_rank AS (                    -- probe order: exact integer dot product
  -- division-free: |c| <= n_vecs*3e6, |qx| <= 3e6, 64-dim sum stays
  -- far inside int64 at the driver's scale factors
  SELECT c.label,
         CAST(sum(c.c * q.qx) AS BIGINT) AS dot
  FROM centroid c JOIN qv q USING (d) GROUP BY c.label
  ORDER BY dot DESC, label LIMIT 2),
probe AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
  FROM embeddings WHERE label IN (SELECT label FROM label_rank))
SELECT vec_id,
       round(list_cosine_similarity(ve,
         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6)
         AS cosine_sim
FROM probe
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
""", note="IVF-style ANN: probe top-2 clusters by exact-int centroid dot, then exact cosine")
def ann_ivf_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        brute_force_topk, query_vector)
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label",
                   F.posexplode(F.col("embedding")).alias("d0", "x")) \
           .withColumn("d", F.col("d0") + 1) \
           .withColumn("x", F.col("x").cast("double"))
    centroid = (e.groupBy("label", "d")
                .agg(F.sum(F.round(F.col("x") * 10000000).cast("long"))
                     .alias("c")))
    qv = (e.filter(F.col("vec_id") == 0)
          .select("d", F.round(F.col("x") * 10000000).cast("long").alias("qx")))
    label_rank = (centroid.join(qv, "d")
                  .groupBy("label")
                  .agg(F.sum(F.col("c") * F.col("qx")).alias("dot"))
                  .orderBy(F.desc("dot"), "label").limit(2))
    probe = emb.join(F.broadcast(label_rank.select("label")), "label")
    return brute_force_topk(probe, query_vector(emb, 0), k=10)


@q("corpus_curation", ("CURATION",), oracle=f"""
WITH feats AS (
  SELECT doc_id, lang, source,
         {TX.quality_features_sql('text')['n_tokens']} AS n_tokens,
         {TX.lang_id_sql('text')} AS lang_pred
  FROM documents),
kept AS (
  SELECT * FROM feats
  WHERE n_tokens >= 20 AND lang_pred = lang)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY lang
""", note="composite curation: quality gate + language-consistency filter → per-lang stats")
def corpus_curation(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    feats = d.select("doc_id", "lang", "source",
                     TX.token_count("text").alias("n_tokens"),
                     TX.lang_id("text").alias("lang_pred"))
    kept = feats.filter((F.col("n_tokens") >= 20)
                        & (F.col("lang_pred") == F.col("lang")))
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


def _curation_cte(min_tokens: int = 20, where: str = "TRUE") -> str:
    """The curation chain (quality gate → language consistency → exact
    dedup (min id per md5) → near-dup cluster removal via reachability
    fixpoint) as reusable CTE text ending in ``final`` — composed by the
    full-curation and training-mix oracles."""
    n_tokens = TX.quality_features_sql("text")["n_tokens"]
    return f"""feats AS (
  SELECT doc_id, lang, source, text, {n_tokens} AS n_tokens,
         {TX.lang_id_sql('text')} AS lang_pred
  FROM documents WHERE {where}),
kept AS (
  SELECT doc_id, lang, source, text, n_tokens FROM feats
  WHERE n_tokens >= {min_tokens} AND lang_pred = lang),
uniq AS (
  SELECT doc_id, lang, source, text, n_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn FROM kept)
  WHERE rn = 1),
pairs AS ({_ngram_pairs_sql(src='uniq').strip()}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
non_keepers AS (
  SELECT id FROM (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
  WHERE comp <> id),
final AS (SELECT * FROM uniq
          WHERE doc_id NOT IN (SELECT id FROM non_keepers))"""


def _full_curation_oracle(min_tokens: int = 20) -> str:
    return f"""
WITH RECURSIVE {_curation_cte(min_tokens)}
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM final GROUP BY lang
"""


@q("corpus_full_curation", ("CURATION-FULL",), oracle=_full_curation_oracle(),
   note="flagship LLM-data pipeline: quality gate → language consistency "
        "→ exact dedup → PPJoin near-dup clusters → keeper-only stats; "
        "five operator families in one value-checked lineage")
def corpus_full_curation(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.plans.corpus import (
        curate_corpus, curation_stats)
    d = _t(spark, sf_dir, "documents")
    return curation_stats(curate_corpus(d))


def _training_mix_oracle(contam_n: int = 4, min_shared: int = 1) -> str:
    """Curation chain (on the non-benchmark corpus) → contamination
    anti-filter → stratified mix predicate, one recursive-CTE query."""
    sh = TX.shingles_sql("text", contam_n)
    sample_pred = SMP.stratified_hash_sample_sql(
        "clean", "lang", _MIX_FRACTIONS, "doc_id", seed=7,
        default=0.05).strip()
    return f"""
WITH RECURSIVE {_curation_cte(where="source <> 'src0'")},
bench AS (SELECT DISTINCT unnest({sh}) AS s
          FROM documents WHERE source = 'src0'),
docsh AS (SELECT doc_id, unnest({sh}) AS s FROM final),
contam AS (SELECT doc_id FROM docsh JOIN bench USING (s)
           GROUP BY doc_id HAVING count(*) >= {min_shared}),
clean AS (SELECT * FROM final
          WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
mix AS ({sample_pred})
SELECT doc_id, lang, source, n_tokens FROM mix
"""


@q("corpus_training_mix", ("MIX-FULL",), oracle=_training_mix_oracle(),
   note="end-to-end training-data pipeline: curation (quality → lang → "
        "exact dedup → near-dup clusters) → benchmark decontamination → "
        "stratified mix sampling; seven operator families, one lineage, "
        "row-level value check")
def corpus_training_mix(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.plans.corpus import build_training_mix
    d = _t(spark, sf_dir, "documents")
    mix = build_training_mix(d.filter(F.col("source") != "src0"),
                             d.filter(F.col("source") == "src0"),
                             _MIX_FRACTIONS, default=0.05)
    return mix.select("doc_id", "lang", "source", "n_tokens")


# =============================================================================
# Batch 4 — skew-mitigation parity + non-SQL-expressible ops (weak checks)
# =============================================================================

@q("skew_salted_agg", ("SKEW-AGG",), oracle="""
SELECT event_type,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value,
       count(*) AS n
FROM events GROUP BY event_type
""", note="salted two-phase aggregation — oracle runs the NAIVE form, proving "
          "the hot-key mitigation is result-identical")
def skew_salted_agg(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.skew import salted_sum
    e = _events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long"))
    out = salted_sum(e, ["event_type"], ["cents"], n_salts=16)
    return out.select("event_type",
                      (F.col("sum_cents") / 100.0).alias("sum_value"),
                      "n")


# Imperative/UDF-backed operators: each still gets a FULL value oracle —
# the kernels are deterministic md5-family computations DuckDB reproduces.

@q("stateful_dedup_kernel", ("STREAM-STATEFUL",), oracle=f"""
SELECT min(doc_id) AS doc_id, fp AS fingerprint
FROM (SELECT doc_id, {md5_long_sql('text')} AS fp FROM documents)
GROUP BY fp
""", note="Arrow applyInPandas dedup kernel (streaming twin uses "
          "applyInPandasWithState); oracle = exact-dedup equivalence: the "
          "kernel keeps the min doc_id per content fingerprint")
def stateful_dedup_kernel(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.streaming.stateful import batch_dedup_kernel
    d = _t(spark, sf_dir, "documents")
    return batch_dedup_kernel(d)


def _lsh_topk_oracle(dims: int = 64, n_planes: int = 16, seed: int = 7,
                     max_hamming: int = 5, k: int = 10,
                     query_id: int = 0) -> str:
    """Full hyperplane-LSH oracle: the ±1 plane components come from the
    same md5 derivation as ``similarity.plane_components``, and each
    projection is emitted as a left-associated ± chain so the fold order
    (hence every IEEE rounding step) matches Spark's sequential
    ``aggregate`` exactly."""
    from rgd_rnaseq_workflows_spark.operators.similarity import plane_components
    comps = plane_components(dims, n_planes, seed)
    sig_terms = []
    for p, row in enumerate(comps):
        proj = " ".join(
            ("+" if c > 0 else "-") + f" ve[{d + 1}]"
            for d, c in enumerate(row)).lstrip("+ ")
        sig_terms.append(
            f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    sig = "\n       + ".join(sig_terms)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
s AS (SELECT vec_id, ve, CAST({sig} AS BIGINT) AS sig FROM v),
q AS (SELECT ve AS qv, sig AS qsig FROM s WHERE vec_id = {query_id})
SELECT vec_id,
       round(list_cosine_similarity(ve, (SELECT qv FROM q)), 6) AS cosine_sim
FROM s
WHERE bit_count(xor(sig, (SELECT qsig FROM q))) <= {max_hamming}
ORDER BY cosine_sim DESC, vec_id
LIMIT {k}
"""


@q("ann_lsh_topk", ("ANN-LSH",), oracle=_lsh_topk_oracle(),
   note="hyperplane-LSH pruned top-k; oracle reproduces the md5-derived "
        "plane signs and the exact fold order of each projection")
def ann_lsh_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        lsh_topk, query_vector)
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, query_vector(emb, 0), dims=64, k=10,
                    n_planes=16, max_hamming=5)


@q("simhash_near_pairs_q", ("DEDUP-SIMHASH-PAIRS",),
   oracle=_simhash_fps_ctes(bits=48, seed=101, shingle_n=2) + """
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id)
WHERE hamming <= 3
""", note="SimHash hamming near-pairs, (max_hamming+1)-block complete "
          "blocking; oracle runs the NAIVE all-pairs form, proving the "
          "blocking loses no pair")
def simhash_near_pairs_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(d, bits=48, max_hamming=3, shingle_n=2)


@q("multimodal_phash_dedup", ("MULTIMODAL-DEDUP",), oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id,
         {md5_long_sql("'media:' || CAST(doc_id % 50 AS VARCHAR)")} AS phash
  FROM documents WHERE doc_id < 200)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM m a JOIN m b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
""", note="image near-dup by perceptual-hash Hamming distance: the Arrow "
          "decode kernel feeds the SAME (max_hamming+1)-block pigeonhole "
          "blocking the SimHash family uses (hamming_near_pairs) — "
          "media content is 'media:'||(doc_id%50) so 4 copies of each of "
          "50 images plant real duplicate groups; oracle is the naive "
          "all-pairs form, proving the blocking loses no pair")
def multimodal_phash_dedup(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.multimodal.binary import image_features
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"), F.lit("image/png").alias("mime"),
        F.encode(F.concat(F.lit("media:"),
                          (F.col("doc_id") % 50).cast("string")),
                 "utf-8").alias("content"),
        F.create_map().cast("map<string,string>").alias("meta"))
    feats = image_features(media).select("media_id", "phash")
    return DD.hamming_near_pairs(feats, "phash", "media_id", bits=60,
                                 max_hamming=6)


@q("multimodal_audio_features", ("MULTIMODAL-AUDIO",), oracle="""
SELECT doc_id AS media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(64 + doc_id % 32 AS BIGINT) AS n_samples,
       CAST((64 + doc_id % 32) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(0.5 AS DOUBLE) AS rms,
       CAST((64 + doc_id % 32 - 1) // (1 + doc_id % 4) AS BIGINT)
         AS zero_crossings
FROM documents WHERE doc_id < 32
""", note="REAL RIFF/PCM decode under a value oracle: 16-bit square-wave "
          "WAVs synthesized per doc (amplitude 16384 = exactly 0.5 "
          "normalized, half-period 1+id%4), decoded by the pure-numpy "
          "wav_codec in the Arrow kernel; every feature — rate, frames, "
          "duration, RMS (exactly 0.5: dyadic arithmetic throughout), "
          "zero crossings floor((n-1)/h) — is closed-form in doc_id, so "
          "the oracle checks the decoder, not a stub")
def multimodal_audio_features(spark, sf_dir):
    import struct

    from rgd_rnaseq_workflows_spark.multimodal.binary import audio_features
    ids = [r[0] for r in _t(spark, sf_dir, "documents")
           .select("doc_id").filter(F.col("doc_id") < 32)
           .orderBy("doc_id").collect()]
    rows = []
    for k in ids:
        n, h = 64 + k % 32, 1 + k % 4
        pcm = b"".join(
            struct.pack("<h", 16384 if (i // h) % 2 == 0 else -16384)
            for i in range(n))
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm)
        rows.append((k, b"RIFF" + struct.pack("<I", len(body)) + body))
    # coalesce the tiny local frame: createDataFrame parallelizes to
    # one partition PER CORE, and 32 single-row partitions fan out to
    # 32 simultaneous Arrow kernels — ~9 s of Python-worker spawn when
    # the pool is cold (measured in-suite) for 32 rows of work. Four
    # 8-row batches is the right shape.
    media = engine_session(spark).createDataFrame(
        rows, "media_id long, content binary").coalesce(4)
    return audio_features(media)


@q("multimodal_image_features", ("MULTIMODAL",), oracle=f"""
SELECT doc_id AS media_id,
       CAST(64 + CAST(('0x' || substr(md5(text), 1, 2)) AS INT) % 512
            AS INTEGER) AS width,
       CAST(64 + CAST(('0x' || substr(md5(text), 3, 2)) AS INT) % 512
            AS INTEGER) AS height,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       {md5_long_sql('text')} AS phash
FROM documents WHERE doc_id < 64
""", note="Arrow-batched binary decode plumbing over synthetic media built "
          "from document bytes (no media table in testdata); the stub codec "
          "is a deterministic md5 derivation, so the oracle reproduces "
          "width/height/phash exactly")
def multimodal_image_features(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.multimodal.binary import image_features
    # doc_id < 64, not limit(64): a limit over a parallel scan is not a
    # deterministic row set, and the oracle needs the identical subset
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    media = d.select(F.col("doc_id").alias("media_id"),
                     F.lit("image").alias("kind"),
                     F.lit("image/png").alias("mime"),
                     F.encode("text", "utf-8").alias("content"),
                     F.create_map().cast("map<string,string>").alias("meta"))
    return image_features(media)


@q("grouping_sets_agg", ("GROUPING-SETS",), oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""", note="explicit grouping sets (SURVEY §2.4 'not present' — beyond-parity)")
def grouping_sets_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # the temp view registers in li's (engine sibling) session — run the
    # SQL there too, so the view resolves and ANSI/UTC pins hold
    li.createOrReplaceTempView("_gs_lineitem")
    return li.sparkSession.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               -- 100.0D: in Spark SQL a bare 100.0 literal is DECIMAL and
               -- would make the division decimal-typed (oracle is double)
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0D
                 AS total_price
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@q("cube_aggregate", ("CUBE",), oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""", note="full cube — completes the grouping-sets family "
          "(rollup_aggregate, grouping_sets_agg)")
def cube_aggregate(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 (_isum("l_quantity", 100) / 100.0).alias("sum_qty")))


@q("multimodal_frame_plan", ("MULTIMODAL-FRAMES",), oracle="""
SELECT doc_id AS media_id, CAST(f.frame_idx AS BIGINT) AS frame_idx
FROM documents,
     LATERAL (SELECT unnest(range(0, (doc_id % 5 + 1) * 30, 30))
              AS frame_idx) f
WHERE doc_id < 32
""", note="video frame-sampling plan: per-media (media_id, frame_idx) "
          "explosion from metadata frame counts; the decode of each "
          "sampled frame is the stubbed codec kernel "
          "(multimodal/binary.py::frame_sample_plan)")
def multimodal_frame_plan(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.multimodal.binary import frame_sample_plan
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 32)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("video/mp4").alias("mime"),
        F.encode("text", "utf-8").alias("content"),
        F.create_map(
            F.lit("n_frames"),
            ((F.col("doc_id") % 5 + 1) * 30).cast("string")).alias("meta"))
    return frame_sample_plan(media, every_n=30)


_OBS_COUNTER = iter(range(1, 1 << 30))


@q("observe_metrics", ("AGG10-OBS",), oracle="""
SELECT count(*) AS n_rows,
       count(*) FILTER (WHERE l_discount > 0.05) AS n_high_discount,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_qty
FROM lineitem
""", note="df.observe() pipeline metrics — the reference's row-count sanity "
          "checks (AGG10) as zero-extra-pass observations. CONTRACT WART "
          "(deliberate): observe() only fires on an action, so this entry "
          "runs its noop action EAGERLY inside the builder and returns the "
          "collected metrics as a 1-row frame — unlike every other entry "
          "it is not a lazy plan; a build-then-execute-twice driver pays "
          "the action twice")
def observe_metrics(spark, sf_dir):
    from pyspark.sql import Observation
    li = _t(spark, sf_dir, "lineitem")
    # unique name per invocation: the listener is matched by name, and the
    # driver may run this query more than once on one session
    obs = Observation(f"li_metrics_{next(_OBS_COUNTER)}")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_discount"),
        (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0)
        .alias("total_qty"))
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return engine_session(spark).createDataFrame(
        [(m["n_rows"], m["n_high_discount"], m["total_qty"])],
        "n_rows long, n_high_discount long, total_qty double")


@q("scalar_cleanup", ("F3", "F5", "F7", "F8"), oracle="""
SELECT doc_id,
       regexp_replace(source || '.genes.results', '\\.genes\\.results$', '')
         AS sample_name,
       replace('"' || source || '"', '"', '')            AS unquoted,
       regexp_replace(source || chr(13), chr(13) || '$', '') AS crlf_stripped,
       regexp_replace('a  b   c', ' +', ' ', 'g')        AS collapsed,
       str_split('BN/NHsdMcwi,extra info', ',')[1]       AS strain_primary
FROM documents WHERE doc_id < 50
""", note="suffix strip (ConflictedSampleReport_v4.sh:52), quote strip (:60), "
          "CRLF strip (combine:137), whitespace collapse + take-before-comma "
          "(make_jbrowse_session:133,137-138)")
def scalar_cleanup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.regexp_replace(F.concat("source", F.lit(".genes.results")),
                         r"\.genes\.results$", "").alias("sample_name"),
        F.regexp_replace(F.concat(F.lit('"'), F.col("source"), F.lit('"')),
                         '"', "").alias("unquoted"),
        F.regexp_replace(F.concat("source", F.lit("\r")), "\r$", "")
        .alias("crlf_stripped"),
        F.regexp_replace(F.lit("a  b   c"), " +", " ").alias("collapsed"),
        F.split(F.lit("BN/NHsdMcwi,extra info"), ",").getItem(0)
        .alias("strain_primary"))


# =============================================================================
# Round 4 — BM25 retrieval + CCNet familiarity buckets
# =============================================================================

_BM25_QUERY = "hash join merge spark"


def _bm25_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.retrieval import bm25_topk_sql
    return bm25_topk_sql("documents", query=_BM25_QUERY, k=10)


@q("text_bm25_topk", ("BM25",), oracle=_bm25_oracle(),
   note="Okapi/Lucene BM25 top-k: token explode filtered to the query's "
        "posting lists before any shuffle (corpus vocabulary never "
        "moves), df/N/avgdl broadcast as driver-scale metadata, per-term "
        "scores fixed-point micro-units so the per-doc sum is an exact "
        "integer — order-independent across engines; TakeOrdered top-k")
def text_bm25_topk(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.retrieval import bm25_topk
    return bm25_topk(_t(spark, sf_dir, "documents"), query=_BM25_QUERY,
                     k=10)


def _lm_bucket_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        lm_bucket_report_sql)
    return lm_bucket_report_sql("documents", n_buckets=3)


@q("quality_lm_buckets", ("LM-BUCKET",), oracle=_lm_bucket_oracle(),
   note="CCNet head/middle/tail familiarity bucketing: bigram-LM scores "
        "(exact-int sums) ntiled per language on a deterministic "
        "(mean DESC, id) key; window runs over the reduced per-doc "
        "table, output is langs x buckets rows")
def quality_lm_buckets(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import lm_bucket_report
    return lm_bucket_report(_t(spark, sf_dir, "documents"), n_buckets=3)


# =============================================================================
# Round 4 — portable sketches, DSIR selection, passage dedup, JL projection
# =============================================================================

def _hll_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import hll_distinct_sql
    est = hll_distinct_sql("events", "user_id", p=8, seed=1)
    return f"""
WITH est AS ({est}),
ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       FROM events)
SELECT m, n_zero_registers, estimate, exact_distinct,
       round((estimate - exact_distinct) / exact_distinct, 4) AS rel_err
FROM est, ex"""


@q("sketch_hll_distinct", ("SKETCH-HLL",), oracle=_hll_oracle(),
   note="portable HyperLogLog (md5 registers, exact-integer indicator "
        "sum) vs exact distinct — the sketch an incremental 100 TB "
        "pipeline merges across days by register max; same registers in "
        "any ANSI engine, unlike approx_count_distinct")
def sketch_hll_distinct(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import hll_distinct
    e = _events(spark, sf_dir)
    est = hll_distinct(e, "user_id", p=8, seed=1)
    exact = e.agg(F.countDistinct("user_id").cast("long")
                  .alias("exact_distinct"))
    return (est.crossJoin(F.broadcast(exact))
            .select("m", "n_zero_registers", "estimate", "exact_distinct",
                    F.round((F.col("estimate") - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 4).alias("rel_err")))


def _hll_incremental_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        hll_distinct_sql, hll_estimate_sql, hll_registers_sql)
    ra = hll_registers_sql("(SELECT * FROM events WHERE event_id % 5 = 0)",
                           "user_id", p=8, seed=1)
    rb = hll_registers_sql(
        "(SELECT * FROM events WHERE event_id % 5 <> 0)",
        "user_id", p=8, seed=1)
    merged = (f"SELECT bucket, max(register) AS register FROM "
              f"(({ra}) UNION ALL ({rb})) GROUP BY bucket")
    est = hll_estimate_sql(merged, p=8)
    single = hll_distinct_sql("events", "user_id", p=8, seed=1)
    return f"""
SELECT m, n_zero_registers, estimate, single_pass_estimate,
       estimate = single_pass_estimate AS merge_lossless
FROM ({est})
CROSS JOIN (SELECT estimate AS single_pass_estimate FROM ({single}))"""


@q("sketch_hll_incremental", ("SKETCH-HLL-MERGE",),
   oracle=_hll_incremental_oracle(),
   note="the incremental-lake HLL rollup: delta (event_id%5=0) and "
        "lake sketches built separately, merged by register max, and "
        "proven BIT-IDENTICAL to the single-pass sketch of the union - "
        "days merge without rescanning the lake; only register rows "
        "(<=2^p per sketch) ever move")
def sketch_hll_incremental(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        hll_distinct, hll_estimate, hll_merge, hll_registers)
    e = _events(spark, sf_dir)
    delta = e.filter(F.col("event_id") % 5 == 0)
    lake = e.filter(F.col("event_id") % 5 != 0)
    merged = hll_merge([hll_registers(delta, "user_id", p=8, seed=1),
                        hll_registers(lake, "user_id", p=8, seed=1)])
    single = (hll_distinct(e, "user_id", p=8, seed=1)
              .select(F.col("estimate").alias("single_pass_estimate")))
    return (hll_estimate(merged, p=8)
            .crossJoin(F.broadcast(single))
            .withColumn("merge_lossless",
                        F.col("estimate")
                        == F.col("single_pass_estimate")))


def _dsir_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.dsir import importance_weights_sql
    return importance_weights_sql("documents", "source = 'src0'",
                                  n_buckets=64, alpha=1.0, seed=11)


@q("dsir_importance", ("DSIR",), oracle=_dsir_oracle(),
   note="DSIR (Xie et al. 2023) hashed-unigram importance weights vs the "
        "source='src0' target slice: B-row broadcast models, exact "
        "integerized log-ratio sums per doc — corpus shuffles only the "
        "(doc, bucket) partial agg")
def dsir_importance(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.dsir import importance_weights
    d = _t(spark, sf_dir, "documents")
    return importance_weights(d, F.col("source") == "src0",
                              n_buckets=64, alpha=1.0, seed=11)


def _passage_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.dedup import (
        passage_dedup_stats_sql)
    return passage_dedup_stats_sql("documents", window=8, max_dup_frac=0.3)


@q("dedup_passages", ("DEDUP-PASSAGE",), oracle=_passage_oracle(),
   note="passage-level exact dedup (Dolma paragraph-dedup shape over "
        "8-token windows): hash-only passage table, one freq shuffle + "
        "one doc rollup; per-doc dup fraction with keep gate")
def dedup_passages(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.passage_dedup_stats(d, window=8, max_dup_frac=0.3)


def _projection_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.projection import (
        random_projection_sql)
    return random_projection_sql("embeddings", in_dims=64, out_dims=8,
                                 seed=5)


@q("embedding_random_projection", ("JL-PROJECT",), oracle=_projection_oracle(),
   note="Achlioptas +/-1 Johnson-Lindenstrauss projection 64d -> 8d: "
        "sign matrix is md5-derived driver metadata (engine-portable, "
        "stateless), corpus path is posexplode -> broadcast join -> "
        "map-side-combined groupBy with exact fixed-point sums")
def embedding_random_projection(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.projection import (
        random_projection)
    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, in_dims=64, out_dims=8, seed=5)


def _bloom_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.bloom import (
        bloom_semi_join_stats_sql)
    return bloom_semi_join_stats_sql(
        "lineitem", "l_orderkey",
        "SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS bk FROM orders "
        "WHERE o_orderstatus = 'F'",
        m_bits=131072, k=7, seed=17)


@q("bloom_semi_join", ("BLOOM-PREFILTER",), oracle=_bloom_oracle(),
   note="portable Bloom-filter semi-join prefilter (md5 family, "
        "bit-identical in any engine): build is one <=m/64-row bit_or "
        "shuffle, bitmap is driver metadata applied as a pure codegen "
        "filter on the probe scan — the fact table is never shuffled to "
        "be prefiltered; reports pass/exact/false-positive rates")
def bloom_semi_join(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.bloom import (
        bloom_semi_join_stats)
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    build = orders.filter(F.col("o_orderstatus") == "F")
    return bloom_semi_join_stats(li, "l_orderkey", build, "o_orderkey",
                                 m_bits=131072, k=7, seed=17)


def _hll_grouped_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import hll_distinct_sql
    est = hll_distinct_sql("events", "user_id", p=8, seed=1,
                           by=("event_type",))
    return f"""
WITH est AS ({est}),
ex AS (SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       FROM events GROUP BY event_type)
SELECT event_type, estimate, exact_distinct
FROM est JOIN ex USING (event_type)"""


@q("sketch_hll_by_group", ("SKETCH-HLL-GROUP",), oracle=_hll_grouped_oracle(),
   note="grouped HLL: one sketch per event_type from the SAME single "
        "shuffle (group keys ride the register groupBy); per-group "
        "estimates vs exact — the granularity a daily rollup stores and "
        "later merges by register max")
def sketch_hll_by_group(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import hll_distinct
    e = _events(spark, sf_dir)
    est = hll_distinct(e, "user_id", p=8, seed=1, by=("event_type",))
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return est.join(exact, "event_type").select(
        "event_type", "estimate", "exact_distinct")


def _passage_rewrite_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.dedup import (
        remove_duplicate_passages_sql)
    return remove_duplicate_passages_sql("documents", window=8)


@q("dedup_passage_rewrite", ("DEDUP-PASSAGE-RW",),
   oracle=_passage_rewrite_oracle(),
   note="passage-level dedup REWRITE (keep first occurrence by doc id + "
        "position, drop elsewhere, re-assemble in order): text rides "
        "only explode->reassemble, the keeper window moves hashes")
def dedup_passage_rewrite(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.remove_duplicate_passages(d, window=8)


def _bpe_encode_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.bpe import bpe_encode_stats_sql
    return bpe_encode_stats_sql("documents", rounds=4)


@q("tokenizer_bpe_encode", ("BPE-ENCODE",), oracle=_bpe_encode_oracle(),
   note="token budgeting: train 4 merges then ENCODE the corpus with "
        "them — encoding runs on the vocabulary (distinct words x wc), "
        "never the corpus, so applying a 32k-merge tokenizer to 100 TB "
        "costs one word-count shuffle + vocabulary-scale folds; exact "
        "integer symbol sums, oracle = shared trainer CTE chain with "
        "the final fold applied")
def tokenizer_bpe_encode(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.bpe import bpe_encode_stats
    return bpe_encode_stats(_t(spark, sf_dir, "documents"), rounds=4)


def _cms_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import cms_sketch_sql
    toks_sql = TX.tokens_sql("text")
    sketch = cms_sketch_sql("toks", "tok", depth=4, width=1024, seed=9)
    probes = " UNION ALL ".join(
        f"SELECT tok, {i} AS row, "
        + md5_long_sql(f"'{9 + i}:' || CAST(tok AS VARCHAR)")
        + " % 1024 AS pos FROM exact_top"
        for i in range(4))
    return f"""
WITH toks AS MATERIALIZED (SELECT unnest({toks_sql}) AS tok FROM documents),
exact_top AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY tok ORDER BY exact_count DESC, tok LIMIT 10),
sketch AS ({sketch}),
probes AS ({probes}),
est AS (
  SELECT tok, CAST(min(coalesce(counter, 0)) AS BIGINT) AS cms_estimate
  FROM probes LEFT JOIN sketch USING (row, pos) GROUP BY tok)
SELECT tok, exact_count, cms_estimate,
       cms_estimate - exact_count AS overestimate
FROM exact_top JOIN est USING (tok)"""


@q("sketch_cms_heavy_hitters", ("SKETCH-CMS",), oracle=_cms_oracle(),
   note="Count-Min Sketch heavy hitters: depth x width counter table "
        "(<=4096 rows from any corpus size, merges by counter add), "
        "exact top-10 tokens cross-checked against their CMS estimates "
        "- overestimate bound is the epsilon*N guarantee")
def sketch_cms_heavy_hitters(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        cms_estimate, cms_sketch)
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TX.tokens("text")).alias("tok"))
    exact_top = (toks.groupBy("tok")
                 .agg(F.count("*").cast("long").alias("exact_count"))
                 .orderBy(F.desc("exact_count"), "tok").limit(10))
    sk = cms_sketch(toks, "tok", depth=4, width=1024, seed=9)
    est = cms_estimate(sk, exact_top.select("tok"), "tok",
                       depth=4, width=1024, seed=9)
    return (exact_top.join(est, "tok")
            .select("tok", "exact_count", "cms_estimate",
                    (F.col("cms_estimate") - F.col("exact_count"))
                    .alias("overestimate")))


def _hll_set_ops_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        hll_estimate_sql, hll_registers_sql)
    ra = hll_registers_sql("(SELECT * FROM events WHERE event_id % 2 = 0)",
                           "user_id", p=8, seed=1)
    rb = hll_registers_sql("(SELECT * FROM events WHERE event_id % 2 <> 0)",
                           "user_id", p=8, seed=1)
    merged = (f"SELECT bucket, max(register) AS register FROM "
              f"(({ra}) UNION ALL ({rb})) GROUP BY bucket")
    ea = hll_estimate_sql(ra, p=8)
    eb = hll_estimate_sql(rb, p=8)
    eu = hll_estimate_sql(merged, p=8)
    return f"""
WITH exact AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
    SELECT user_id FROM events WHERE event_id % 2 = 0
    INTERSECT
    SELECT user_id FROM events WHERE event_id % 2 <> 0))
SELECT a.estimate AS est_a, b.estimate AS est_b, u.estimate AS est_union,
       round(a.estimate + b.estimate - u.estimate, 4)
         AS est_intersection,
       exact_intersection
FROM ({ea}) a CROSS JOIN ({eb}) b CROSS JOIN ({eu}) u CROSS JOIN exact"""


@q("sketch_hll_set_ops", ("SKETCH-HLL-SETOPS",),
   oracle=_hll_set_ops_oracle(),
   note="HLL set algebra: |A|, |B|, |A union B| (register-max merge) "
        "and |A intersect B| by inclusion-exclusion, cross-checked "
        "against the exact intersection - the sketch-only way to "
        "estimate audience overlap across partitions without moving "
        "either side's raw keys")
def sketch_hll_set_ops(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        hll_estimate, hll_merge, hll_registers)
    e = _events(spark, sf_dir)
    a = e.filter(F.col("event_id") % 2 == 0)
    b = e.filter(F.col("event_id") % 2 != 0)
    ra = hll_registers(a, "user_id", p=8, seed=1)
    rb = hll_registers(b, "user_id", p=8, seed=1)
    ea = hll_estimate(ra, p=8).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(rb, p=8).select(F.col("estimate").alias("est_b"))
    eu = (hll_estimate(hll_merge([ra, rb]), p=8)
          .select(F.col("estimate").alias("est_union")))
    exact = (a.select("user_id").intersect(b.select("user_id"))
             .agg(F.count("*").cast("long").alias("exact_intersection")))
    return (ea.crossJoin(F.broadcast(eb)).crossJoin(F.broadcast(eu))
            .crossJoin(F.broadcast(exact))
            .select("est_a", "est_b", "est_union",
                    F.round(F.col("est_a") + F.col("est_b")
                            - F.col("est_union"), 4)
                    .alias("est_intersection"),
                    "exact_intersection"))


def _cms_incremental_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import cms_sketch_sql
    ska = cms_sketch_sql("(SELECT * FROM events WHERE event_id % 5 = 0)",
                         "event_type", depth=4, width=1024, seed=9)
    skb = cms_sketch_sql("(SELECT * FROM events WHERE event_id % 5 <> 0)",
                         "event_type", depth=4, width=1024, seed=9)
    sks = cms_sketch_sql("events", "event_type", depth=4, width=1024,
                         seed=9)
    probes = " UNION ALL ".join(
        f"SELECT event_type, {i} AS row, "
        + md5_long_sql(f"'{9 + i}:' || CAST(event_type AS VARCHAR)")
        + " % 1024 AS pos FROM keys"
        for i in range(4))
    return f"""
WITH keys AS (SELECT DISTINCT event_type FROM events),
merged AS (
  SELECT row, pos, CAST(sum(counter) AS BIGINT) AS counter
  FROM (({ska}) UNION ALL ({skb})) GROUP BY row, pos),
single AS ({sks}),
probes AS ({probes}),
est_m AS (
  SELECT event_type, CAST(min(coalesce(counter, 0)) AS BIGINT) AS est
  FROM probes LEFT JOIN merged USING (row, pos) GROUP BY event_type),
est_s AS (
  SELECT event_type, CAST(min(coalesce(counter, 0)) AS BIGINT) AS est
  FROM probes LEFT JOIN single USING (row, pos) GROUP BY event_type)
SELECT event_type, m.est AS cms_estimate, s.est AS single_pass_estimate,
       m.est = s.est AS merge_lossless
FROM est_m m JOIN est_s s USING (event_type)"""


@q("sketch_cms_incremental", ("SKETCH-CMS-MERGE",),
   oracle=_cms_incremental_oracle(),
   note="the incremental-lake CMS rollup: delta (event_id%5=0) and lake "
        "frequency sketches built separately, merged by counter ADD, "
        "and proven identical to the single-pass sketch of the union - "
        "sum is exact so the merge is lossless (but not idempotent: "
        "snapshot lineage, not re-merge, is the replay guard)")
def sketch_cms_incremental(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        cms_estimate, cms_merge, cms_sketch)
    e = _events(spark, sf_dir)
    delta = e.filter(F.col("event_id") % 5 == 0)
    lake = e.filter(F.col("event_id") % 5 != 0)
    merged = cms_merge([
        cms_sketch(delta, "event_type", depth=4, width=1024, seed=9),
        cms_sketch(lake, "event_type", depth=4, width=1024, seed=9)])
    single = cms_sketch(e, "event_type", depth=4, width=1024, seed=9)
    keys = e.select("event_type").distinct()
    est_m = cms_estimate(merged, keys, "event_type", depth=4,
                         width=1024, seed=9)
    est_s = (cms_estimate(single, keys, "event_type", depth=4,
                          width=1024, seed=9)
             .withColumnRenamed("cms_estimate", "single_pass_estimate"))
    return (est_m.join(est_s, "event_type")
            .withColumn("merge_lossless",
                        F.col("cms_estimate")
                        == F.col("single_pass_estimate")))


def _snapshot_apply_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        snapshot_apply_sql)
    apply_sql = snapshot_apply_sql(
        "documents", "changes", payload=("text", "lang", "source", "n_chars"))
    return f"""
WITH changes AS (
  SELECT doc_id, 'delete' AS op, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, 'upsert' AS op, 'rev2: ' || text AS text, lang, source,
         n_chars
  FROM documents WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'upsert' AS op,
         'new doc ' || CAST(doc_id AS VARCHAR) AS text, lang, source,
         n_chars
  FROM documents WHERE doc_id % 10 = 2)
{apply_sql}"""


@q("snapshot_apply_merge", ("SNAPSHOT-APPLY",),
   oracle=_snapshot_apply_oracle(),
   note="MERGE INTO semantics as one full-outer join: upserts win, "
        "deletes drop, untouched keys pass through; on a bucketed lake "
        "the merge co-locates and runs zero-exchange. Changeset here is "
        "a deterministic derivation (delete %10=0, revise %10=1, insert "
        "%10=2 shifted) so the oracle rebuilds it exactly")
def snapshot_apply_merge(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.snapshot import snapshot_apply
    d = _t(spark, sf_dir, "documents")
    dels = (d.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", F.lit("delete").alias("op"),
                    "text", "lang", "source", "n_chars"))
    revs = (d.filter(F.col("doc_id") % 10 == 1)
            .select("doc_id", F.lit("upsert").alias("op"),
                    F.concat(F.lit("rev2: "), F.col("text")).alias("text"),
                    "lang", "source", "n_chars"))
    ins = (d.filter(F.col("doc_id") % 10 == 2)
           .select((F.col("doc_id") + 1000000).alias("doc_id"),
                   F.lit("upsert").alias("op"),
                   F.concat(F.lit("new doc "),
                            F.col("doc_id").cast("string")).alias("text"),
                   "lang", "source", "n_chars"))
    changes = dels.unionByName(revs).unionByName(ins)
    return snapshot_apply(d, changes)


def _pagerank_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.graph import pagerank_sql
    pairs = _simhash_fps_ctes(bits=48, seed=101, shingle_n=2) + """
SELECT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id)
WHERE hamming <= 3"""
    return pagerank_sql(pairs, iters=3, damping_pct=85)


@q("graph_pagerank_neardup", ("GRAPH-PAGERANK",), oracle=_pagerank_oracle(),
   note="fixed-point PageRank (3 iterations, d=0.85) over the SimHash "
        "near-dup graph: exact integer ranks (div/deg + rational "
        "damping) make every iteration bit-identical across engines and "
        "partition orders; one groupBy(dst) shuffle per iteration, "
        "checkpoint-truncated lineage - centrality-based canonical "
        "selection for duplicate clusters")
def graph_pagerank_neardup(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.graph import pagerank
    d = _t(spark, sf_dir, "documents")
    pairs = DD.simhash_near_pairs(d, bits=48, max_hamming=3, shingle_n=2)
    return pagerank(pairs, iters=3, damping_pct=85)


def _triangle_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.graph import triangle_stats_sql
    pairs = _simhash_fps_ctes(bits=48, seed=101, shingle_n=2) + """
SELECT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id)
WHERE hamming <= 3"""
    return triangle_stats_sql(pairs)


@q("graph_triangle_census", ("GRAPH-TRIANGLE",), oracle=_triangle_oracle(),
   note="triangle census + global clustering coefficient over the "
        "SimHash near-dup graph - the cluster DENSITY diagnostic "
        "(tight cliques collapse safely; low transitivity = chains of "
        "borderline matches a single threshold would over-merge); "
        "degree-ordered node-iterator orientation bounds out-degrees "
        "at O(sqrt(E)) so the wedge join never squares a hub, (deg,id) "
        "STRUCT ordering avoids packed-key overflow, all counts exact "
        "integers")
def graph_triangle_census(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.graph import triangle_stats
    d = _t(spark, sf_dir, "documents")
    pairs = DD.simhash_near_pairs(d, bits=48, max_hamming=3, shingle_n=2)
    return triangle_stats(pairs)


def _log2q_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        log2_quantiles_sql)
    return log2_quantiles_sql("lineitem", "l_extendedprice",
                              [25, 50, 90, 99], scale=100)


@q("sketch_log2_quantiles", ("SKETCH-QUANTILE",), oracle=_log2q_oracle(),
   note="power-of-2 DDSketch quantiles: <=64 integer buckets from any "
        "input size (bit-length bucketing, no float log), merged by "
        "count add; rank lookup over the cumulative histogram - the "
        "mergeable 100TB quantile path with a gamma=2 guarantee, "
        "refinable by subdividing buckets")
def sketch_log2_quantiles(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        log2_quantile_estimate, log2_quantile_sketch)
    li = _t(spark, sf_dir, "lineitem")
    sk = log2_quantile_sketch(li, "l_extendedprice", scale=100)
    return log2_quantile_estimate(sk, [25, 50, 90, 99], scale=100)


def _log2q_grouped_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        log2_quantiles_sql)
    return log2_quantiles_sql("events", "value", [50, 90, 99], scale=100,
                              by=("event_type",))


@q("sketch_log2q_by_group", ("SKETCH-QUANTILE-GROUP",),
   oracle=_log2q_grouped_oracle(),
   note="grouped power-of-2 DDSketch quantiles: one <=64-bucket integer "
        "histogram PER EVENT TYPE from the same single shuffle the "
        "global sketch pays (by= just widens the grouping key); "
        "per-group rank lookup - per-tenant latency/value percentiles "
        "at 100 TB without per-group exact sorts")
def sketch_log2q_by_group(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        log2_quantile_estimate, log2_quantile_sketch)
    ev = _events(spark, sf_dir)
    sk = log2_quantile_sketch(ev, "value", scale=100, by=("event_type",))
    return log2_quantile_estimate(sk, [50, 90, 99], scale=100,
                                  by=("event_type",))


def _cms_grouped_oracle() -> str:
    toks_sql = TX.tokens_sql("text")
    cells = " UNION ALL ".join(
        f"SELECT lang, {i} AS row, "
        + md5_long_sql(f"'{9 + i}:' || CAST(tok AS VARCHAR)")
        + " % 1024 AS pos FROM toks"
        for i in range(4))
    probes = " UNION ALL ".join(
        f"SELECT lang, tok, {i} AS row, "
        + md5_long_sql(f"'{9 + i}:' || CAST(tok AS VARCHAR)")
        + " % 1024 AS pos FROM top"
        for i in range(4))
    return f"""
WITH toks AS MATERIALIZED (
  SELECT lang, unnest({toks_sql}) AS tok FROM documents),
counts AS MATERIALIZED (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY lang, tok),
top AS MATERIALIZED (
  SELECT lang, tok, exact_count FROM (
    SELECT *, row_number() OVER (
      PARTITION BY lang ORDER BY exact_count DESC, tok) AS rn
    FROM counts) WHERE rn <= 3),
sketch AS MATERIALIZED (
  SELECT lang, row, pos, CAST(count(*) AS BIGINT) AS counter
  FROM ({cells}) GROUP BY lang, row, pos),
probes AS ({probes}),
est AS (
  SELECT lang, tok, CAST(min(coalesce(counter, 0)) AS BIGINT)
    AS cms_estimate
  FROM probes LEFT JOIN sketch USING (lang, row, pos)
  GROUP BY lang, tok)
SELECT lang, tok, exact_count, cms_estimate,
       cms_estimate - exact_count AS overestimate
FROM top JOIN est USING (lang, tok)"""


@q("sketch_cms_by_group", ("SKETCH-CMS-GROUP",),
   oracle=_cms_grouped_oracle(),
   note="grouped Count-Min Sketch: one depth x width counter table per "
        "language from the single-shuffle grouped aggregation (<=4096 "
        "rows per group regardless of corpus size, merges by counter "
        "add); per-language exact top-3 tokens cross-checked against "
        "their per-group CMS estimates")
def sketch_cms_by_group(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sketches import (
        cms_estimate, cms_sketch)
    d = _t(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(TX.tokens("text")).alias("tok"))
    counts = (toks.groupBy("lang", "tok")
              .agg(F.count("*").cast("long").alias("exact_count")))
    w = Window.partitionBy("lang").orderBy(F.desc("exact_count"), "tok")
    top = (counts.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= 3).drop("_rn"))
    sk = cms_sketch(toks, "tok", depth=4, width=1024, seed=9,
                    by=("lang",))
    est = cms_estimate(sk, top.select("lang", "tok"), "tok",
                       depth=4, width=1024, seed=9, by=("lang",))
    return (top.join(est, ["lang", "tok"])
            .select("lang", "tok", "exact_count", "cms_estimate",
                    (F.col("cms_estimate") - F.col("exact_count"))
                    .alias("overestimate")))


def _boilerplate_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.boilerplate import (
        boilerplate_ngrams_sql)
    return boilerplate_ngrams_sql("documents", shingle_n=3,
                                  min_doc_bps=500, min_docs=2)


@q("quality_boilerplate_ngrams", ("QUALITY-BOILERPLATE",),
   oracle=_boilerplate_oracle(),
   note="de-templating: per-source trigrams in >=5% of the source's "
        "documents (DOCUMENT frequency - template, not repetition); "
        "counting shuffle carries md5-long keys, gram text recovered "
        "only for the flagged tail via broadcast semi-join; exact "
        "basis-point threshold")
def quality_boilerplate_ngrams(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.boilerplate import (
        boilerplate_ngrams)
    return boilerplate_ngrams(_t(spark, sf_dir, "documents"),
                              shingle_n=3, min_doc_bps=500, min_docs=2)


_EPOCH_MIX_BPS = {"en": 23_500, "de": 15_000}


def _epoch_mix_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        epoch_budget_mix_sql)
    return epoch_budget_mix_sql(
        "documents", "lang", "doc_id", _EPOCH_MIX_BPS, seed=1,
        cols="doc_id, text, lang, source, n_chars")


@q("sample_epoch_mix", ("SAMPLE-EPOCH-MIX",), oracle=_epoch_mix_oracle(),
   note="repetition materialized: each language replays at its "
        "allocated epoch rate (23500 bps = every doc twice + ~35% a "
        "third time) with a 1-based epoch index for loader "
        "interleaving - literal map + explode(sequence), zero shuffle; "
        "production chains sample_epoch_budget's manifest into these "
        "rates (Python==SQL waterfall equivalence is test-pinned)")
def sample_epoch_mix(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        epoch_budget_mix)
    return epoch_budget_mix(_t(spark, sf_dir, "documents"), "lang",
                            "doc_id", _EPOCH_MIX_BPS, seed=1)


def _chunking_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        chunk_documents_sql)
    return chunk_documents_sql("documents", window=16, stride=12)


@q("rag_chunk_documents", ("RAG-CHUNK",), oracle=_chunking_oracle(),
   note="overlapping RAG chunking (stride < window so no span splits "
        "across a boundary): pure codegen explode, zero shuffle, "
        "deterministic (doc, start) chunk identity stable under corpus "
        "growth")
def rag_chunk_documents(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        chunk_documents)
    return chunk_documents(_t(spark, sf_dir, "documents"),
                           window=16, stride=12)


def _winnow_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        winnow_pairs_sql)
    return winnow_pairs_sql("documents", k=3, w=4, min_shared=3)


@q("winnow_partial_overlap", ("WINNOW",), oracle=_winnow_oracle(),
   note="winnowing fingerprints (Schleimer et al. 2003, the MOSS "
        "algorithm): rightmost-min of each w-window of k-gram hashes "
        "via ONE window frame over a packed (hash,-pos) key - any "
        "shared run >= w+k-1 tokens is guaranteed a shared fingerprint; "
        "partial-overlap pairs MinHash's global signatures miss, at "
        "~2/(w+1) storage")
def winnow_partial_overlap(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        shared_fingerprint_pairs, winnow_fingerprints)
    d = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, k=3, w=4)
    return shared_fingerprint_pairs(fps, min_shared=3)


def _winnow_containment_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        cross_containment_sql)
    return cross_containment_sql(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)",
        k=3, w=4, min_shared=2, min_containment=0.2)


@q("winnow_cross_containment", ("WINNOW-CROSS",),
   oracle=_winnow_containment_oracle(),
   note="incremental-ingestion CONTAINMENT via winnowing: a new crawl "
        "slice (doc_id%5=0) matched against the lake by shared selected "
        "fingerprints, scored as shared/new-doc-fingerprints - catches "
        "a small doc pasted into a big one where global Jaccard "
        "under-scores; fp equi-join new x lake only, lake fingerprints "
        "reusable delta-over-delta")
def winnow_cross_containment(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        cross_containment_pairs, winnow_fingerprints)
    d = _t(spark, sf_dir, "documents")
    new_fps = winnow_fingerprints(d.filter(F.col("doc_id") % 5 == 0),
                                  k=3, w=4)
    old_fps = winnow_fingerprints(d.filter(F.col("doc_id") % 5 != 0),
                                  k=3, w=4)
    return cross_containment_pairs(new_fps, old_fps, min_shared=2,
                                   min_containment=0.2)


def _containment_keepers_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        containment_keepers_sql)
    return containment_keepers_sql("documents", k=3, w=4, min_shared=2,
                                   threshold=0.5)


@q("winnow_containment_keepers", ("WINNOW-KEEP",),
   oracle=_containment_keepers_oracle(),
   note="within-corpus containment DROP POLICY (keep the larger doc): "
        "a doc is dropped when >=50% of its winnowing fingerprints "
        "appear in a dominating doc (more fps, ties to smaller id) - "
        "dominance is a strict total order so the policy is acyclic "
        "and the chain maximum always survives; greedy-static collapse "
        "documented in-module; fp equi-join is the only corpus-scale "
        "shuffle, best-container pick is an integer-ordered window")
def winnow_containment_keepers(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        containment_keepers, winnow_fingerprints)
    d = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, k=3, w=4)
    return containment_keepers(fps, min_shared=2, threshold=0.5)


def _fuzzy_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.fuzzy import (
        fuzzy_match_keys_sql)
    return fuzzy_match_keys_sql("part", "p_name", max_dist=3,
                                min_dist=1, block_len=4)


@q("fuzzy_match_part_names", ("FUZZY-LINK",), oracle=_fuzzy_oracle(),
   note="fuzzy record linkage (entity resolution): DISTINCT values + "
        "occurrence counts first (corpus rows never reach the pair "
        "stage), prefix-OR-suffix block keys make matching two "
        "equi-joins (never a cross product), length band + unit-cost "
        "levenshtein (same definition both engines) on candidates "
        "only; the blocking recall contract is explicit and the twin "
        "implements it identically")
def fuzzy_match_part_names(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.fuzzy import fuzzy_match_keys
    p = _t(spark, sf_dir, "part")
    return fuzzy_match_keys(p, "p_name", max_dist=3, min_dist=1,
                            block_len=4)


def _histq_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.exact_quantiles import (
        group_quantiles_sql)
    return group_quantiles_sql("lineitem", "l_returnflag", "l_quantity",
                               [25, 50, 90, 99])


@q("agg_histogram_quantiles", ("HIST-QUANTILE",), oracle=_histq_oracle(),
   note="EXACT per-group percentiles over a bounded integer domain "
        "(quantities, token counts, ratings): corpus rows fold "
        "map-side into a (group, value) histogram, every requested "
        "quantile reads off ONE cumulative walk over domain-scale "
        "rows - alpha~0 by construction (the scale-honest exact path; "
        "agg_percentiles' buffering form stays a correctness gate); "
        "lower-quantile targets are pure integers ((n*q+99) div 100), "
        "no interpolation, engine-identical")
def agg_histogram_quantiles(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.exact_quantiles import (
        group_quantiles)
    li = _t(spark, sf_dir, "lineitem")
    return group_quantiles(li, "l_returnflag", "l_quantity",
                           [25, 50, 90, 99])


def _profile_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        table_profile_sql)
    return table_profile_sql(
        "documents", ["doc_id", "text", "lang", "source", "n_chars"],
        p=10)


@q("table_profile_stats", ("PROFILE",), oracle=_profile_oracle(),
   note="ANALYZE-style table profiler: per-column row/null counts + "
        "HLL distinct estimates - the CBO statistics pass; exact "
        "COUNT(DISTINCT) would shuffle every distinct value per "
        "column, the HLL path ships <=2^p register rows and the "
        "md5-derived estimate is deterministic on every engine and "
        "partitioning (pinned in tests); one aggregation pair per "
        "column over its COLUMN-PRUNED scan, register tables merge by "
        "max for incremental daily profiling")
def table_profile_stats(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import table_profile
    d = _t(spark, sf_dir, "documents")
    return table_profile(
        d, ["doc_id", "text", "lang", "source", "n_chars"], p=10)


def _scd2_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.scd import scd2_history_sql
    return scd2_history_sql(
        "SELECT user_id, event_type, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id FROM events")


@q("events_scd2_history", ("SCD2",), oracle=_scd2_oracle(),
   note="SCD2 dimension-history builder (gaps-and-islands): collapses "
        "the per-user observation stream into versioned runs with "
        "[valid_from, valid_to) intervals and an is_current flag - "
        "point-in-time reconstruction for lake attributes (license, "
        "crawl policy, consent); NULL-safe change detection (NULL is a "
        "version), epoch-second + event_id total order (the events-"
        "family convention vs sub-second cross-engine precision); ONE "
        "shuffle on the entity key serves both windows, then a "
        "map-side-combined agg - no self-joins")
def events_scd2_history(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.scd import scd2_history
    e = _events(spark, sf_dir)
    obs = e.select("user_id", "event_type",
                   F.col("ts").cast("long").alias("sec"), "event_id")
    return scd2_history(obs)


def _centroid_drift_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.embedding_drift import (
        centroid_drift_sql)
    return centroid_drift_sql("embeddings", "vec_id % 2 = 0",
                              group_col="label")


@q("embedding_centroid_drift", ("EMB-DRIFT",),
   oracle=_centroid_drift_oracle(),
   note="embedding-space drift monitor (semantic twin of "
        "corpus_token_drift): per-label centroid L2 shift + cosine "
        "between two batches; the whole aggregation is ORDER-FREE "
        "exact arithmetic (fix-point int64 per-dim sums, "
        "cross-multiplied deltas, decimal(38,0)/HUGEINT squares - "
        "int64 would wrap) so no float-sum nondeterminism exists, "
        "doubles only in the final per-label scalar chain; one "
        "posexplode + two map-side-combined aggs, no joins")
def embedding_centroid_drift(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.embedding_drift import (
        centroid_drift)
    e = _t(spark, sf_dir, "embeddings")
    return centroid_drift(e, F.col("vec_id") % 2 == 0,
                          group_col="label")


def _zorder_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.zorder import (
        zorder_stats_autobounds_sql)
    return zorder_stats_autobounds_sql("lineitem",
                                       ["l_partkey", "l_suppkey"],
                                       bits=12, bucket_bits=4)


@q("layout_zorder_stats", ("LAYOUT-ZORDER",), oracle=_zorder_oracle(),
   note="Z-order (Morton) layout key for multi-dimensional file "
        "skipping - the Delta/Iceberg OPTIMIZE ZORDER trick from plain "
        "expressions: clamp + exact integer multiply-div quantization "
        "(midpoint splits, overflow-proof pre-shift for wide domains) "
        "+ disjoint-bit interleave, bit-identical across engines; this "
        "query is the per-Z-prefix locality report (every bucket's "
        "dimension spans are narrow slices of the global range - "
        "exactly what parquet footer pruning feeds on); the key is a "
        "pure projection, write_zordered adds ONE sampled range "
        "shuffle, and the payoff is measured from real parquet footer "
        "stats in test_zorder.py")
def layout_zorder_stats(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.zorder import (
        column_bounds, zorder_stats)
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_partkey", "l_suppkey"]
    bounds = column_bounds(li, cols)
    return zorder_stats(li, cols, bounds, bits=12, bucket_bits=4)


# =============================================================================
# Round-5 additions: token-budget mixing + classifier-based quality filtering
# =============================================================================

_TOKEN_BUDGETS = {"en": 20_000, "de": 1_000}
_EPOCH_WEIGHTS = {"en": 50, "de": 20, "fr": 15, "zh": 15}


def _epoch_budget_oracle() -> str:
    from rgd_rnaseq_workflows_spark.functions.text import token_count_sql
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        epoch_budget_waterfall_sql)
    src = (f"(SELECT lang, {token_count_sql('text')} AS n_tokens "
           "FROM documents)")
    return epoch_budget_waterfall_sql(src, "lang", "n_tokens",
                                      _EPOCH_WEIGHTS, budget=40_000,
                                      max_epochs=2)


@q("sample_epoch_budget", ("SAMPLE-EPOCH-BUDGET",),
   oracle=_epoch_budget_oracle(),
   note="data-constrained allocation (epoch-capped water-filling): "
        "split a token budget across languages by weight, cap each at "
        "max_epochs passes over its available tokens, re-flow the "
        "excess - fixed len(weights) rounds of exact integer floor "
        "division over k metadata rows, so the unrolled-CTE oracle "
        "replays it bit-for-bit; epochs_bps > 10000 = repetition")
def sample_epoch_budget(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        epoch_budget_manifest)
    d = _t(spark, sf_dir, "documents").select(
        "lang", TX.token_count("text").alias("n_tokens"))
    return epoch_budget_manifest(d, "lang", "n_tokens", _EPOCH_WEIGHTS,
                                 budget=40_000, max_epochs=2)


def _token_budget_oracle() -> str:
    from rgd_rnaseq_workflows_spark.functions.text import token_count_sql
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        token_budget_mix_sql)
    src = (f"(SELECT doc_id, lang, {token_count_sql('text')} AS n_tokens "
           f"FROM documents)")
    return token_budget_mix_sql(src, "lang", "n_tokens", _TOKEN_BUDGETS,
                                "doc_id", seed=7,
                                cols="d.doc_id, d.lang, d.n_tokens")


@q("sample_token_budget", ("SAMPLE-TOKBUDGET",),
   oracle=_token_budget_oracle(),
   note="token-budget mix: sample each language down to a TOKEN budget "
        "(the unit a pretraining mix actually allocates) - exact bigint "
        "token sums, integer div rate, md5-bucket filter; one "
        "metadata-scale agg + broadcast rates, the corpus never "
        "shuffles; unbudgeted strata drop")
def sample_token_budget(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        token_budget_mix)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", TX.token_count("text").alias("n_tokens"))
    return token_budget_mix(d, "lang", "n_tokens", _TOKEN_BUDGETS,
                            "doc_id", seed=7)


def _linear_score_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        hashed_linear_score_sql)
    return hashed_linear_score_sql("documents", n_buckets=1 << 12)


@q("quality_classifier_score", ("QUALITY-LINEAR",),
   oracle=_linear_score_oracle(),
   note="fastText-style hashed linear classifier inference (the "
        "CCNet/LLaMA corpus-filter shape): md5 feature buckets, "
        "broadcast weight table (model = metadata), exact integer "
        "per-doc sums; label decided on the exact sum sign, logit one "
        "rounded division - corpus never reshuffled")
def quality_classifier_score(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        hashed_linear_score, pseudo_weights)
    d = _t(spark, sf_dir, "documents")
    w = pseudo_weights(d.sparkSession, 1 << 12)
    return hashed_linear_score(d, w, n_buckets=1 << 12)


_DRIFT_OLD = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
_DRIFT_NEW = "(SELECT * FROM documents WHERE doc_id % 2 = 1)"


def _drift_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.snapshot import token_drift_sql
    return token_drift_sql(_DRIFT_OLD, _DRIFT_NEW)


@q("corpus_token_drift", ("DRIFT-TV",), oracle=_drift_oracle(),
   note="snapshot drift monitoring: total-variation distance between "
        "two snapshots' token distributions - exact bigint numerator "
        "sum (|cp*N2 - cq*N1|, order-independent across engines), one "
        "rounded division; vocabulary tables join, corpora never do")
def corpus_token_drift(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        token_drift_report)
    d = _t(spark, sf_dir, "documents")
    return token_drift_report(d.filter(F.col("doc_id") % 2 == 0),
                              d.filter(F.col("doc_id") % 2 == 1))


def _drift_terms_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        top_drift_terms_sql)
    return top_drift_terms_sql(_DRIFT_OLD, _DRIFT_NEW, k=15)


@q("corpus_drift_terms", ("DRIFT-TERMS",), oracle=_drift_terms_oracle(),
   note="top drifting terms between snapshots, ranked by the EXACT "
        "integer mass movement |cp*N2 - cq*N1| (ties -> term) - the "
        "ranking never touches a double; per-term |p-q| rounded only "
        "for reporting")
def corpus_drift_terms(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        top_drift_terms)
    d = _t(spark, sf_dir, "documents")
    return top_drift_terms(d.filter(F.col("doc_id") % 2 == 0),
                           d.filter(F.col("doc_id") % 2 == 1), k=15)


def _oov_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.snapshot import oov_rate_sql
    return oov_rate_sql(_DRIFT_NEW, _DRIFT_OLD, by="lang")


@q("quality_oov_rate", ("DRIFT-OOV",), oracle=_oov_oracle(),
   note="OOV drift gate: fraction of the new snapshot's token positions "
        "unseen in the old snapshot's vocabulary, per language - a "
        "SINGLE stream-safe aggregation (the same expression tree runs "
        "incrementally under Structured Streaming, stream==batch "
        "test-pinned); vocabulary joins, corpora never do")
def quality_oov_rate(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        oov_rate_report)
    d = _t(spark, sf_dir, "documents")
    return oov_rate_report(d.filter(F.col("doc_id") % 2 == 1),
                           d.filter(F.col("doc_id") % 2 == 0), by="lang")


def _centrality_keepers_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.graph import (
        centrality_keepers_sql)
    pairs = _simhash_fps_ctes(bits=48, seed=101, shingle_n=2) + """
SELECT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id)
WHERE hamming <= 3"""
    return centrality_keepers_sql(pairs, iters=3, damping_pct=85)


@q("graph_centrality_keepers", ("GRAPH-KEEPERS",),
   oracle=_centrality_keepers_oracle(),
   note="centrality-based canonical selection: per duplicate cluster "
        "keep the max-PageRank member (ties -> min id) - components + "
        "pagerank both replay ONE checkpointed pair frame "
        "(plans.neardup reuse inside a single query); exact integer "
        "ranks make the argmax engine-identical")
def graph_centrality_keepers(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.graph import (
        centrality_keepers)
    from rgd_rnaseq_workflows_spark.session import checkpoint_df
    d = _t(spark, sf_dir, "documents")
    pairs = checkpoint_df(
        DD.simhash_near_pairs(d, bits=48, max_hamming=3, shingle_n=2))
    return centrality_keepers(pairs, iters=3, damping_pct=85)


def _cross_source_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.contamination import (
        cross_source_matrix_sql)
    return cross_source_matrix_sql("documents", shingle_n=3, min_shared=1)


@q("contamination_source_matrix", ("CONTAM-MATRIX",),
   oracle=_cross_source_oracle(),
   note="cross-source contamination matrix: distinct shared n-grams "
        "per source pair (which feed leaked into which) - per-source "
        "distinct shingle table is the only shuffle, equi self-join on "
        "the gram, S^2/2-row metadata output")
def contamination_source_matrix(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.contamination import (
        cross_source_matrix)
    d = _t(spark, sf_dir, "documents")
    return cross_source_matrix(d, shingle_n=3, min_shared=1)


def _fertility_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.bpe import (
        bpe_fertility_by_lang_sql)
    return bpe_fertility_by_lang_sql("documents", rounds=4)


@q("tokenizer_fertility_by_lang", ("BPE-FERTILITY",),
   oracle=_fertility_oracle(),
   note="per-language fertility of a globally-trained BPE (symbols per "
        "whitespace token - how a shared tokenizer taxes each script): "
        "one (lang, word, wc) shuffle, merges train once driver-side, "
        "the trainer's final word states price every language; oracle "
        "carries the word key through every recursive fold")
def tokenizer_fertility_by_lang(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.bpe import (
        bpe_fertility_by_lang)
    d = _t(spark, sf_dir, "documents")
    return bpe_fertility_by_lang(d, rounds=4)


# =============================================================================
# Batch (round 6, fifth): time-series rollup/gapfill + robust rate anomalies
# =============================================================================

_TS_EVENTS_SQL = ("SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) "
                  "AS sec, event_id, value FROM events")


def _gapfill_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        bucket_gapfill_sql)
    return bucket_gapfill_sql(_TS_EVENTS_SQL, 3600)


@q("events_gapfill_locf", ("TS-GAPFILL",), oracle=_gapfill_oracle(),
   note="hypertable rollup + gap fill: hourly last-reading buckets per "
        "event type, missing buckets generated with the previous "
        "reading carried forward (LOCF) - ONE map-side-combined struct-"
        "max aggregation (partials, not rows, cross the shuffle), then "
        "a join-free spine-free gap generation: each gap row explodes "
        "out of the observed row that precedes it, which is exactly "
        "the row holding its LOCF value")
def events_gapfill_locf(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        bucket_last_rollup, gapfill_locf)
    e = _events(spark, sf_dir)
    ev = e.select("event_type", F.col("ts").cast("long").alias("sec"),
                  "event_id", "value")
    return gapfill_locf(bucket_last_rollup(ev, 3600), 3600)


def _rate_anomaly_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        rate_anomaly_sql)
    return rate_anomaly_sql(_TS_EVENTS_SQL, 3600, k=3)


@q("events_rate_anomaly", ("TS-ANOMALY",), oracle=_rate_anomaly_oracle(),
   note="robust volume-spike detection on the bucketed series: flag "
        "hourly buckets whose event count deviates from the type's "
        "EXACT median by more than k exact MADs - the bounded-domain "
        "histogram walk (quality_length_outliers machinery) on bucket-"
        "scale counts, pure integer arithmetic end to end; a mean/"
        "stddev gate would be dragged by the spikes it should catch")
def events_rate_anomaly(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        rate_anomaly_report)
    e = _events(spark, sf_dir)
    ev = e.select("event_type", F.col("ts").cast("long").alias("sec"),
                  "event_id")
    return rate_anomaly_report(ev, 3600, k=3)


_FD_PAIRS = [("doc_id", "lang"), ("source", "lang"), ("lang", "source")]


def _fd_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import fd_report_sql
    return fd_report_sql("documents", _FD_PAIRS)


@q("profile_fd_audit", ("PROFILE-FD",), oracle=_fd_oracle(),
   note="approximate functional-dependency audit (TANE g3 measure): "
        "per candidate lhs->rhs, the exact minimum row deletions for "
        "the FD to hold and the kept fraction in integer basis points "
        "- key/uniqueness checks and schema-drift tripwires in one "
        "report; two map-side-combined aggs per candidate over a "
        "two-column pruned scan, compact value keys only")
def profile_fd_audit(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import fd_report
    d = _t(spark, sf_dir, "documents")
    return fd_report(d, _FD_PAIRS)


def _cluster_split_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        split_assign_sql)
    pairs_sql = REGISTRY["dedup_ngram_jaccard"].oracle.strip()
    split = split_assign_sql("rep", seed=13)
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
comps AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
asg AS (
  SELECT d.doc_id AS id, coalesce(c.comp, d.doc_id) AS rep
  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT rep) AS BIGINT) AS n_units
FROM (SELECT rep, {split} AS split FROM asg)
GROUP BY split
"""


@q("split_cluster_assign", ("SPLIT-CLUSTER",),
   oracle=None,  # composes the ngram-pairs oracle text; set below
   note="leakage-FREE train/val/test assignment: the split hashes the "
        "near-dup COMPONENT label (min reachable id; singletons hash "
        "their own id), so near-duplicate docs can never cross the "
        "split - the constructive fix for what split_leakage_report "
        "measures; one left join onto the component table (duplicated-"
        "doc scale, broadcastable) + a pure hash projection, summary "
        "is per-split doc and sampling-unit counts")
def split_cluster_assign(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.components import (
        connected_components)
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        cluster_split_assign)
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, block_col="lang", shingle_n=2,
                                   threshold=0.8)
    asg = cluster_split_assign(d, connected_components(pairs), seed=13)
    return asg.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("rep").cast("long").alias("n_units"))


REGISTRY["split_cluster_assign"].oracle = _cluster_split_oracle()


def _scatter_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.pca import scatter_matrix_sql
    return scatter_matrix_sql("embeddings")


@q("embedding_pca_scatter", ("PCA-SCATTER",), oracle=_scatter_oracle(),
   note="distributed PCA sufficient statistics: the d x d exact-"
        "integer scatter matrix (upper triangle) + per-dim fix-point "
        "sums - 100 TB of vectors collapses to O(d^2) mergeable "
        "metadata, eigen runs driver-side on the tiny matrix "
        "(pca_fit/pca_project); per-batch integer XtX GEMM crosses "
        "the Arrow boundary once (vectors in, 2080-row partial out), "
        "one hash agg merges partials")
def embedding_pca_scatter(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.pca import scatter_matrix
    e = _t(spark, sf_dir, "embeddings")
    return scatter_matrix(e, dims=64)


def _textrank_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        textrank_keywords_sql)
    return textrank_keywords_sql("documents", top_k=25, min_count=5,
                                 iters=3)


@q("text_textrank_keywords", ("TEXTRANK",), oracle=_textrank_oracle(),
   note="corpus-level TextRank keywords: integer PageRank over the "
        "adjacent-word co-occurrence graph (directed bigram counts -> "
        "min_count gate -> canonical undirected md5-id edges); one "
        "corpus-scale bigram shuffle, everything after is vocabulary-"
        "graph scale; deterministic top-k because ranks are exact "
        "integers underneath - catches structurally-central terms "
        "raw frequency misses")
def text_textrank_keywords(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        textrank_keywords)
    d = _t(spark, sf_dir, "documents")
    return textrank_keywords(d, top_k=25, min_count=5, iters=3)


def _transition_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        transition_matrix_sql)
    return transition_matrix_sql(
        "SELECT user_id, event_type, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id FROM events")


@q("events_transition_matrix", ("TS-MARKOV",),
   oracle=_transition_oracle(),
   note="first-order Markov transition matrix of the per-user event "
        "stream: consecutive-event pairs (epoch-second + event_id "
        "total order) counted map-side after ONE user-key shuffle, "
        "probabilities as integer basis points; |types|^2 metadata "
        "out - the journey diagnostic funnels can't show")
def events_transition_matrix(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        transition_matrix)
    e = _events(spark, sf_dir)
    ev = e.select("user_id", "event_type",
                  F.col("ts").cast("long").alias("sec"), "event_id")
    return transition_matrix(ev)


def _shared_span_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        shared_span_sql)
    return shared_span_sql("documents", k=3, w=4, min_shared=2,
                           min_run=2)


@q("winnow_repeated_spans", ("WINNOW-SPANS",),
   oracle=_shared_span_oracle(),
   note="repeated-SPAN localization between doc pairs (the exact-"
        "substring-dedup signal): matched winnowing fingerprints "
        "grouped by alignment DIAGONAL (pos_a - pos_b), split at gaps "
        "> w+k-1 (winnowing's coverage guarantee) - a pasted block "
        "surfaces as one long run where global Jaccard just dilutes; "
        "fp equi-join is the only corpus-scale shuffle, the islands "
        "window rides match-scale (pair, diagonal) keys; all integer")
def winnow_repeated_spans(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.winnowing import (
        shared_span_report, winnow_fingerprints)
    d = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, k=3, w=4)
    return shared_span_report(fps, k=3, w=4, min_shared=2, min_run=2)


def _downweight_oracle() -> str:
    pairs_sql = REGISTRY["dedup_ngram_jaccard"].oracle.strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
comps AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comps GROUP BY comp),
lab AS (
  SELECT d.doc_id AS id,
         coalesce(s.cluster_size, 1) AS cluster_size
  FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
                   LEFT JOIN sizes s ON s.comp = c.comp)
SELECT id, CAST(cluster_size AS BIGINT) AS cluster_size,
       10000 // cluster_size AS weight_bp
FROM lab
"""


@q("sample_duplicate_downweight", ("SOFT-DEDUP",),
   oracle=_downweight_oracle(),
   note="SOFT dedup for training mixes: every near-dup cluster member "
        "weighted 1/cluster_size in integer basis points, so the "
        "cluster contributes one doc's worth of mass without hard "
        "drops losing legitimate variation; one cluster-size agg + "
        "one left join on the SAME single pair graph the keepers/"
        "splits/leakage reports share")
def sample_duplicate_downweight(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.components import (
        connected_components)
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        duplicate_downweight)
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, block_col="lang", shingle_n=2,
                                   threshold=0.8)
    return duplicate_downweight(d, connected_components(pairs))


def _rfm_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        rfm_segments_sql)
    return rfm_segments_sql(
        "SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, "
        "value, event_id FROM events")


@q("events_rfm_segments", ("RFM",), oracle=_rfm_oracle(),
   note="RFM segmentation: per-user last-activity/count/exact-cents "
        "metrics (one map-side-combined fold to USER scale), then each "
        "axis tiles via a DISTRIBUTED two-phase global rank (range "
        "repartition -> frozen per-partition row_number + broadcast "
        "metadata offsets) fed through exact ntile arithmetic - no "
        "task ever sorts the whole user table; n_tiles^3 rollup out")
def events_rfm_segments(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import rfm_segments
    e = _events(spark, sf_dir)
    ev = e.select("user_id", F.col("ts").cast("long").alias("sec"),
                  "value", "event_id")
    return rfm_segments(ev)


def _kanon_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        k_anonymity_sql)
    return k_anonymity_sql("customer",
                           ["c_nationkey", "c_mktsegment"], k=25)


@q("profile_k_anonymity", ("PROFILE-KANON",), oracle=_kanon_oracle(),
   note="k-anonymity audit: equivalence classes below k and the exact "
        "row fraction at re-identification risk (integer basis "
        "points) over a quasi-identifier set - the privacy-review "
        "gate; one map-side-combined agg to class scale, one fold to "
        "a single metadata row; NULL is a quasi-identifier value")
def profile_k_anonymity(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        k_anonymity_report)
    c = _t(spark, sf_dir, "customer")
    return k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=25)


def _pps_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        pps_systematic_sql)
    src = ("(SELECT doc_id, greatest(1, length(text)) AS w_bytes "
           "FROM documents)")
    return pps_systematic_sql(src, "doc_id", "w_bytes", k=120, seed=7)


@q("sample_pps_systematic", ("PPS-SAMPLE",), oracle=_pps_oracle(),
   note="systematic PPS sample (Madow): EXACTLY k draws proportional "
        "to doc size, all exact integer/decimal(38,0) arithmetic on a "
        "md5-ordered weight circle - the cumulative sum is a bucketed "
        "distributed prefix sum (64 metadata totals to the driver, "
        "never data), sum(n_copies) = k always; incl_bp is the exact "
        "Horvitz-Thompson reweighting input")
def sample_pps_systematic(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        pps_systematic)
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id",
                 F.greatest(F.lit(1), F.length("text")).cast("long")
                 .alias("w_bytes"))
    return pps_systematic(w, "doc_id", "w_bytes", k=120, seed=7)


def _kcore_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.fuzzy import (
        fuzzy_match_keys_sql)
    from rgd_rnaseq_workflows_spark.operators.graph import k_core_sql
    pairs = ("SELECT val_a AS id_a, val_b AS id_b FROM ("
             + fuzzy_match_keys_sql("part", "p_name", max_dist=3,
                                    min_dist=1, block_len=4).strip()
             + ")")
    return k_core_sql(pairs, k=3, iters=20)


@q("graph_kcore_filter", ("K-CORE",), oracle=_kcore_oracle(),
   note="k-core decomposition of the fuzzy-match pair graph (k=3): "
        "iterative degree peel to the fixpoint separates dense "
        "entity CLIQUES from incidental edit-distance chains (A-B-C "
        "where A,C are unrelated) that components alone lump "
        "together; state is only the surviving edge list, one "
        "vertex-scale agg + one semi-join per round, checkpointed; "
        "raises rather than returning an unconverged core")
def graph_kcore_filter(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.fuzzy import (
        fuzzy_match_keys)
    from rgd_rnaseq_workflows_spark.operators.graph import k_core
    p = _t(spark, sf_dir, "part")
    pairs = fuzzy_match_keys(p, "p_name", max_dist=3, min_dist=1,
                             block_len=4)
    return k_core(pairs, k=3, src="val_a", dst="val_b")


def _golden_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.fuzzy import (
        golden_records_sql)
    return golden_records_sql("part", "p_name",
                              ["p_brand", "p_type"],
                              max_dist=3, min_dist=1, block_len=4)


@q("linkage_golden_records", ("GOLDEN-REC",), oracle=_golden_oracle(),
   note="survivorship merge after fuzzy linkage: value-pair components "
        "label corpus rows through ONE broadcast value-to-cluster map, "
        "canonical name + per-field elected values by (count desc, "
        "value asc) - a single stack melt scans the corpus once for "
        "every field, pivot is over the caller's pinned field list")
def linkage_golden_records(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.fuzzy import golden_records
    p = _t(spark, sf_dir, "part")
    return golden_records(p, "p_name", ["p_brand", "p_type"],
                          max_dist=3, min_dist=1, block_len=4)


def _qnorm_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        quantile_normalize_sql)
    return quantile_normalize_sql("documents", "source", "n_chars")


@q("quality_quantile_norm", ("QNORM",), oracle=_qnorm_oracle(),
   note="cross-source quantile normalization (Bolstad batch-effect "
        "correction) of a quality metric: one map-side-combined count "
        "is the only corpus touch, midrank-to-pooled-index mapping in "
        "decimal(38,0) (2*N^2 wraps int64 near 1e12 rows), all windows "
        "and the interval join at bounded (group, value) scale with "
        "the pooled side broadcast")
def quality_quantile_norm(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        quantile_normalize_by_group)
    d = _t(spark, sf_dir, "documents")
    return quantile_normalize_by_group(d, "source", "n_chars")


def _semleak_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        cross_split_leakage_sql)
    return cross_split_leakage_sql("embeddings", threshold=0.3, seed=1)


@q("split_semantic_leakage", ("SEM-LEAK",), oracle=_semleak_oracle(),
   note="embedding-level split leakage - the semantic twin of "
        "split_leakage_report: near-identical vectors across "
        "train/val/test that n-gram dedup misses (paraphrases, "
        "re-encodes); pairs from the label-blocked GEMM near-dup path "
        "(never cross), md5-bucket split labels, ONE pair-scale agg "
        "with an exact integer similarity sum (sum_sim_e6)")
def split_semantic_leakage(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        cross_split_leakage)
    emb = _t(spark, sf_dir, "embeddings")
    return cross_split_leakage(emb, threshold=0.3, seed=1)


_EXPECTATIONS = [
    ("unique", "o_orderkey"),
    ("not_null", "o_custkey"),
    ("range", "o_totalprice", 0, 1000000),
    ("in_set", "o_orderstatus", ("O", "F", "P")),
    ("regex", "o_orderpriority", "^[1-5]-"),
]


def _expectations_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        expectations_sql)
    return expectations_sql("orders", _EXPECTATIONS)


@q("profile_expectations", ("EXPECT",), oracle=_expectations_oracle(),
   note="declarative constraint-suite audit (the Deequ/Great-"
        "Expectations ingest gate): every row-local constraint folds "
        "into ONE map-side-combined aggregation over a single corpus "
        "scan - adding a constraint adds an expression, not a pass; "
        "unique runs as an exact count-distinct agg per audited "
        "column; the report is metadata rows, no driver collect")
def profile_expectations(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        expectations_report)
    o = _t(spark, sf_dir, "orders")
    return expectations_report(o, _EXPECTATIONS)


# =============================================================================
# Round 7 — multi-touch attribution, CDC chunk dedup
# =============================================================================


def _attribution_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.attribution import (
        multi_touch_attribution_sql)
    return multi_touch_attribution_sql(
        "SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) "
        "AS sec, value, event_id FROM events")


@q("events_attribution", ("ATTR",), oracle=_attribution_oracle(),
   note="multi-touch conversion attribution (first/last/linear): one "
        "user-keyed equi-join range-filtered to the lookback (pair "
        "count bounded by touches-per-window, never |touches|^2), "
        "per-conversion rank windows, exact-cents credit with integer "
        "remainder to the most recent touches so sum(credit) == "
        "conversion cents per model on every engine; models x types "
        "metadata out, '(direct)' bucket for untouched conversions")
def events_attribution(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.attribution import (
        multi_touch_attribution)
    e = _events(spark, sf_dir)
    ev = e.select("user_id", "event_type",
                  F.col("ts").cast("long").alias("sec"),
                  "value", "event_id")
    return multi_touch_attribution(ev)


def _cdc_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_chunk_stats_sql)
    return cdc_chunk_stats_sql("documents", k=2, divisor=8)


@q("dedup_cdc_chunks", ("CDC",), oracle=_cdc_oracle(),
   note="content-defined-chunking duplication audit: cuts where the "
        "CONTENT hashes to 0 mod divisor (k-gram ending at the token), "
        "so a duplicate passage shifted by one token still chunks "
        "identically - the boundary-shift robustness fixed-window "
        "passage dedup lacks; chunk lists are built as per-doc ARRAY "
        "work inside the scan stage, and the only corpus-scale shuffle "
        "carries (group, 60-bit hash) longs - never text")
def dedup_cdc_chunks(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_chunk_stats)
    d = _t(spark, sf_dir, "documents")
    return cdc_chunk_stats(d, k=2, divisor=8)


def _cdc_pairs_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_containment_pairs_sql)
    return cdc_containment_pairs_sql("documents", k=2, divisor=8,
                                     min_shared=2,
                                     min_containment_bp=5000,
                                     max_chunk_df=100)


@q("dedup_cdc_pairs", ("CDC-PAIRS",), oracle=_cdc_pairs_oracle(),
   note="shift-robust near-dup pairs from CDC chunk identity: a "
        "duplicate passage shares its chunks wherever it sits, so "
        "pairing is a chunk-hash EQUI-join (never all-pairs, never "
        "alignment-sensitive); boilerplate guard drops chunks with "
        "doc-frequency > 100 before the self-join (one viral chunk "
        "would otherwise mint df^2 pair rows); distinct chunk sets, "
        "exact integer containment of the smaller doc")
def dedup_cdc_pairs(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_containment_pairs)
    d = _t(spark, sf_dir, "documents")
    return cdc_containment_pairs(d, k=2, divisor=8, min_shared=2,
                                 min_containment_bp=5000,
                                 max_chunk_df=100)


def _hilbert_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.hilbert import (
        hilbert_stats_autobounds_sql)
    return hilbert_stats_autobounds_sql(
        "lineitem", ["l_partkey", "l_suppkey"], bits=12, bucket_bits=4)


@q("layout_hilbert_stats", ("LAYOUT-HILBERT",), oracle=_hilbert_oracle(),
   note="Hilbert-curve layout key - the locality upgrade over Z-order "
        "(consecutive indices are GRID NEIGHBORS, test-pinned, so "
        "every run of keys is a compact blob, not a Morton jump): "
        "same exact-integer quantization, the quadrant rotation runs "
        "as a chain of narrow scan-fused projections (no shuffle); "
        "this query is the per-prefix locality report; the clustered "
        "write adds ONE sampled range shuffle and the payoff is "
        "measured from real parquet footers in test_hilbert.py")
def layout_hilbert_stats(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.hilbert import (
        column_bounds, hilbert_stats)
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_partkey", "l_suppkey"]
    bounds = column_bounds(li, cols)
    return hilbert_stats(li, cols, bounds, bits=12, bucket_bits=4)


_RECALL_QUERY_IDS = [0, 7, 19, 42]


def _recall_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        retrieval_recall_report_sql)
    return retrieval_recall_report_sql(
        "embeddings", _RECALL_QUERY_IDS, dims=64, k=10, n_planes=16,
        max_hamming=5)


@q("ann_recall_report", ("ANN-EVAL",), oracle=_recall_oracle(),
   note="measured retrieval quality for the ANN family: per query, "
        "exact brute-force top-k is truth, the hyperplane-LSH path is "
        "the candidate retriever, report = exact-integer recall_bp + "
        "mrr_e6 (query excluded from both sides - a self-match would "
        "fake recall); corpus scanned ONCE for all queries, per-query "
        "ranking via the two-phase bucketed top-k (no corpus-in-one-"
        "task window), |queries| rows out")
def ann_recall_report(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        retrieval_recall_report)
    emb = _t(spark, sf_dir, "embeddings")
    return retrieval_recall_report(emb, _RECALL_QUERY_IDS, dims=64,
                                   k=10, n_planes=16, max_hamming=5)


def _paths_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        top_event_paths_sql)
    return top_event_paths_sql(
        "SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) "
        "AS sec, event_id FROM events", n=3, top_k=20, cap_per_user=50)


@q("events_top_paths", ("PATHS",), oracle=_paths_oracle(),
   note="top-k user journeys (runs of n consecutive event types) - "
        "the order-n generalization of the transition matrix: ONE "
        "map-side-combined per-user fold (types in pinned (sec, id) "
        "order, truncated to the user's cap_per_user earliest events "
        "- the funnel family's bot guard), per-user array n-gramming "
        "(no second event shuffle), path-vocabulary-scale counts, "
        "TakeOrdered top-k with tie order pinned")
def events_top_paths(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        top_event_paths)
    e = _events(spark, sf_dir)
    ev = e.select("user_id", "event_type",
                  F.col("ts").cast("long").alias("sec"), "event_id")
    return top_event_paths(ev, n=3, top_k=20, cap_per_user=50)


_CORR_COLS = [("l_quantity", 100), ("l_extendedprice", 100),
              ("l_discount", 100)]


def _corr_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        correlation_report_sql)
    return correlation_report_sql("lineitem", _CORR_COLS)


@q("profile_correlations", ("PROFILE-CORR",), oracle=_corr_oracle(),
   note="pairwise Pearson correlation matrix in ONE map-side-combined "
        "pass: fixed-point columns (the _isum discipline), every "
        "moment (sum, sum-of-squares, cross products for ALL pairs) "
        "accumulates exactly in decimal(38,0); r is one double "
        "division of exact-decimal terms, rounded once; pairwise NULL "
        "deletion with per-pair n; |cols|^2/2 metadata rows out, no "
        "joins, no windows")
def profile_correlations(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        correlation_report)
    li = _t(spark, sf_dir, "lineitem")
    return correlation_report(li, _CORR_COLS)


_FK_PAIRS_SQL = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey",
     "lineitem.l_orderkey -> orders.o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey",
     "orders.o_custkey -> customer.c_custkey"),
    ("documents", "doc_id", "embeddings", "vec_id",
     "documents.doc_id -> embeddings.vec_id"),
]


def _fk_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        fk_candidates_sql)
    return fk_candidates_sql(_FK_PAIRS_SQL)


@q("profile_fk_candidates", ("PROFILE-FK",), oracle=_fk_oracle(),
   note="inclusion-dependency (FK-candidate) audit - the referential-"
        "integrity complement of the FD audit: distinct-value-set "
        "containment of each child column in its parent key with the "
        "exact orphan count (the docs->embeddings relation is "
        "deliberately orphan-bearing: unembedded documents); each side "
        "collapses to DISTINCT values map-side first, then one "
        "value-set-scale semi-join per pair - never a row-level join")
def profile_fk_candidates(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        fk_candidates_report)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return fk_candidates_report(spark, [
        (li, "l_orderkey", o, "o_orderkey", _FK_PAIRS_SQL[0][4]),
        (o, "o_custkey", c, "c_custkey", _FK_PAIRS_SQL[1][4]),
        (d, "doc_id", e, "vec_id", _FK_PAIRS_SQL[2][4]),
    ])


def _cdc_keepers_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_containment_keepers_sql)
    return cdc_containment_keepers_sql("documents", k=2, divisor=8,
                                       min_shared=2,
                                       min_containment_bp=5000,
                                       max_chunk_df=100)


@q("dedup_cdc_keepers", ("CDC-KEEPERS",), oracle=_cdc_keepers_oracle(),
   note="keep-the-larger containment drop policy: a doc is dropped "
        "iff it is the lesser side (fewer distinct chunks; ties by "
        "id) of at least one qualifying CDC containment pair - exact "
        "dedup keeps both copies and random-keeper near-dup may keep "
        "the fragment, this keeps the superset doc; one deterministic "
        "anti-join, no transitive clustering, no iteration")
def dedup_cdc_keepers(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_containment_keepers)
    d = _t(spark, sf_dir, "documents")
    return cdc_containment_keepers(d, k=2, divisor=8, min_shared=2,
                                   min_containment_bp=5000,
                                   max_chunk_df=100)


def _cdc_cross_source_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_cross_source_overlap_sql)
    return cdc_cross_source_overlap_sql("documents", k=2, divisor=8)


@q("dedup_cdc_cross_source", ("CDC-XSOURCE",),
   oracle=_cdc_cross_source_oracle(),
   note="source x source shared-chunk heatmap: distinct CDC chunk "
        "hashes present in BOTH groups + integer containment of the "
        "smaller side - WHERE the duplication lives (a hot cell says "
        "cross-source dedup between those two sources pays before any "
        "pair enumeration); self-join fan-out is bounded by the "
        "source vocabulary per hash, never document df; |groups|^2 "
        "metadata out")
def dedup_cdc_cross_source(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.chunking import (
        cdc_cross_source_overlap)
    d = _t(spark, sf_dir, "documents")
    return cdc_cross_source_overlap(d, k=2, divisor=8)


def _minhash_calibration_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.dedup import (
        minhash_calibration_sql)
    return minhash_calibration_sql("documents", num_hashes=8,
                                   band_size=2, shingle_n=2)


@q("dedup_minhash_calibration", ("MINHASH-CAL",),
   oracle=_minhash_calibration_oracle(),
   note="measured MinHash estimator quality (the ann_recall_report "
        "discipline applied to dedup): over the LSH candidate pairs, "
        "signature-agreement Jaccard estimate vs exact shingle-set "
        "Jaccard, bucketed by estimate decile with exact-integer "
        "means + abs error - quantifies signature width adequacy and "
        "the LSH false-candidate cost BEFORE a 100 TB dedup commits "
        "to the parameters; shingle frame built once (checkpoint), "
        "candidates from the banded bucket join, n_buckets rows out")
def dedup_minhash_calibration(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.dedup import (
        minhash_calibration_report)
    d = _t(spark, sf_dir, "documents")
    return minhash_calibration_report(d, num_hashes=8, band_size=2,
                                      shingle_n=2)


def _ivf_sweep_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        ivf_probe_sweep_sql)
    return ivf_probe_sweep_sql("embeddings", _RECALL_QUERY_IDS,
                               probes=[1, 2, 4], k=10)


@q("ann_ivf_probe_sweep", ("ANN-IVF-SWEEP",), oracle=_ivf_sweep_oracle(),
   note="recall-vs-nprobe curve for the IVF path, measured not "
        "guessed (third member of the eval family): per (query, "
        "nprobe), candidates = vectors whose pre-assigned cluster "
        "ranks in the query's top-nprobe centroids by exact integer "
        "dot; exact-integer recall_bp + mrr_e6 vs brute truth; corpus "
        "scanned once, every ranking melts into ONE (qid, arm)-keyed "
        "two-phase top-k pass (the shared kernel), frozen before the "
        "metadata-scale report joins")
def ann_ivf_probe_sweep(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        ivf_probe_sweep_report)
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_probe_sweep_report(emb, _RECALL_QUERY_IDS,
                                  probes=[1, 2, 4], k=10)


def _waterfill_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        token_waterfill_sql)
    return token_waterfill_sql("documents", budget_pct=60)


@q("sample_token_waterfill", ("SAMPLE-WATERFILL",),
   oracle=_waterfill_oracle(),
   note="max-min fair token-budget allocation (water-filling): the "
        "unique level L where granting min(supply, L) per source "
        "spends exactly budget_pct of the corpus tokens - small "
        "sources keep everything, large sources clip to the common "
        "level, remainder tokens handed out deterministically so "
        "sum(allocated) == budget exactly; one map-side-combined "
        "corpus aggregation, then |sources|-row metadata windows")
def sample_token_waterfill(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        token_waterfill_allocation)
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", TX.token_count("text"))
    return token_waterfill_allocation(d, budget_pct=60)


def _token_cap_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        cap_tokens_per_key_sql, token_waterfill_sql)
    src = (f"(SELECT doc_id, source, {TX.token_count_sql('text')} "
           f"AS n_tokens FROM documents)")
    return cap_tokens_per_key_sql(
        src, "source", token_waterfill_sql("documents", 60),
        "n_tokens", "doc_id", seed=3,
        cols="doc_id, source, n_tokens")


@q("sample_token_budget_cap", ("TOKEN-CAP",), oracle=_token_cap_oracle(),
   note="waterfill budgets ENFORCED: per source, keep the greedy "
        "md5-rank prefix whose cumulative tokens stay within the "
        "allocated budget - reproducible survivor choice, exact "
        "integer accounting (kept weight never exceeds allocation); "
        "skew-safe lossless two-phase prefix-sum (salt-local cumsum "
        "lower-bounds the global one, so phase 1 prunes safely and a "
        "hot source splits across 8 window partitions)")
def sample_token_budget_cap(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        cap_tokens_per_key, token_waterfill_allocation)
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", TX.token_count("text"))
    alloc = token_waterfill_allocation(d, budget_pct=60) \
        .select("source", "allocated_tokens")
    return (cap_tokens_per_key(d, "source", alloc, "n_tokens",
                               "doc_id", seed=3)
            .select("doc_id", "source", "n_tokens", "cum_tokens"))


def _vocab_curve_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        vocab_coverage_curve_sql)
    return vocab_coverage_curve_sql("documents", [100, 1000, 10000])


@q("text_vocab_coverage", ("VOCAB-CURVE",), oracle=_vocab_curve_oracle(),
   note="token-coverage-vs-vocab-size curve (the tokenizer vocab "
        "decision measured): exact fraction of corpus tokens covered "
        "by the K most frequent terms at each candidate K, "
        "deterministic tie-break; ONE term-frequency shuffle, "
        "two-phase bucketed top-K taken once at max(K) (phase 2 sees "
        "<= buckets*K rows regardless of corpus size), conditional "
        "sums serve every curve point")
def text_vocab_coverage(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        vocab_coverage_curve)
    d = _t(spark, sf_dir, "documents")
    return vocab_coverage_curve(d, [100, 1000, 10000])


def _emb_health_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        embedding_health_sql)
    return embedding_health_sql("embeddings", dims=64)


@q("profile_embedding_health", ("EMB-HEALTH",), oracle=_emb_health_oracle(),
   note="vector-column ANALYZE the ANN family assumes but never "
        "checks: NULL / wrong-dim / non-finite (NaN poisons every "
        "dot product) / all-zero (cosine undefined) counts plus the "
        "healthy norm range - one map-side-combined pass over per-row "
        "array expressions, no vector payload shuffle, 1 row out")
def profile_embedding_health(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        embedding_health_report)
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_health_report(emb, dims=64)


def _truncation_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        truncation_recall_report_sql)
    return truncation_recall_report_sql(
        "embeddings", _RECALL_QUERY_IDS, [8, 16, 32], k=10)


@q("ann_truncation_report", ("ANN-TRUNC",), oracle=_truncation_oracle(),
   note="Matryoshka-style truncation eval: per (query, d), exact "
        "d-dimension cosine top-k vs exact full-dimension truth - the "
        "'store 64 of the 768 dims' storage decision measured, not "
        "guessed; ONE corpus scan scores every (query, d), two-phase "
        "bucketed top-k per ranking, |queries| x |dims| rows out")
def ann_truncation_report(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        truncation_recall_report)
    emb = _t(spark, sf_dir, "embeddings")
    return truncation_recall_report(emb, _RECALL_QUERY_IDS,
                                    [8, 16, 32], k=10)


_FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_gapq_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        funnel_gap_quantiles_sql)
    return funnel_gap_quantiles_sql("events", _FUNNEL_STEPS,
                                    percents=(50, 90, 99))


@q("events_funnel_gap_quantiles", ("FUNNEL-GAPQ",),
   oracle=_funnel_gapq_oracle(),
   note="exact step-to-step conversion-lag percentiles - the "
        "distribution the funnel's mean hides: per transition, exact "
        "lower quantiles of t_k - t_(k-1) via ONE corpus fold (the "
        "funnel per-user step chain) melted to gaps + the bounded-"
        "domain histogram walk - no per-group buffering, no global "
        "sort; (step, distinct-gap)-scale state")
def events_funnel_gap_quantiles(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        funnel_gap_quantiles)
    e = _events(spark, sf_dir)
    return funnel_gap_quantiles(e, _FUNNEL_STEPS, percents=(50, 90, 99))


def _xsub_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.exact_substrings import (
        exact_substring_report_sql)
    return exact_substring_report_sql("documents", window=8)


@q("dedup_exact_substrings", ("DEDUP-XSUB",), oracle=_xsub_oracle(),
   note="exact duplicated-substring dedup (Lee et al. 2022 ExactSubstr "
        "shape, fixed-L windows instead of a suffix array): KMR "
        "fingerprint-doubling ladder built per row in codegen (zip_with "
        "+ md5 combine, O(n log L), zero shuffle to fingerprint), ONE "
        "hash shuffle counts window occurrences, keep-first keeper "
        "(min (doc,pos)), later copies become interval-merged removal "
        "spans with exact token accounting")
def dedup_exact_substrings(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.exact_substrings import (
        exact_substring_accounting)
    return exact_substring_accounting(_t(spark, sf_dir, "documents"),
                                      window=8)


def _xsub_cal_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.exact_substrings import (
        exact_substring_calibration_sql)
    return exact_substring_calibration_sql("documents", (4, 8, 16))


@q("dedup_exact_substr_calibration", ("DEDUP-XSUB-CAL",),
   oracle=_xsub_cal_oracle(),
   note="window-length adequacy report for ExactSubstr dedup (the "
        "minhash_calibration discipline): per candidate L, window / "
        "duplicated-occurrence / distinct-duplicated-sequence counts "
        "and the exact token mass the rewrite would strip - quantifies "
        "the over-merge vs missed-boilerplate trade BEFORE a 100 TB "
        "dedup commits to L; one checkpointed ladder pass per "
        "candidate, |windows| rows out")
def dedup_exact_substr_calibration(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.exact_substrings import (
        exact_substring_calibration)
    return exact_substring_calibration(_t(spark, sf_dir, "documents"),
                                       (4, 8, 16))


def _xsub_contam_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.exact_substrings import (
        substring_contamination_sql)
    return substring_contamination_sql(
        "(SELECT * FROM documents WHERE source <> 'src0')",
        "(SELECT * FROM documents WHERE source = 'src0')", window=6)


@q("contamination_substring", ("CONTAM-XSUB",),
   oracle=_xsub_contam_oracle(),
   note="exact-substring eval decontamination (GPT-3/PaLM rule - the "
        "sharper sibling of contamination_ngram): a training doc is "
        "contaminated where an L-token window appears VERBATIM in the "
        "src0 'eval set'; fingerprint ladders both sides, eval-scale "
        "distinct (fp, bench) table broadcasts, corpus never shuffles; "
        "per-doc hit positions + distinct benchmark docs touched")
def contamination_substring(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.exact_substrings import (
        substring_contamination)
    d = _t(spark, sf_dir, "documents")
    return substring_contamination(d.filter(F.col("source") != "src0"),
                                   d.filter(F.col("source") == "src0"),
                                   window=6)


# =============================================================================
# Batch 10 (r9) — URL canonicalization dedup
# =============================================================================

# Deterministic URL spike (the _pii_spike_sql pattern: documents carry no
# URL column, so both twins synthesize the same refetch-variant URLs from
# doc_id): 97 logical pages x 5 spelling variants. Variants 0-3 differ
# only by case/default-port/www+trailing-slash+utm/fragment and must
# collapse to ONE https canonical; variant 4 is the http:// sibling and
# must stay separate (scheme is semantic).
_URL_VARIANTS = (
    ("https://Example.COM/p/", "?a=1&b=2"),
    ("https://example.com:443/p/", "?b=2&a=1"),
    ("https://www.example.com/p/", "/?a=1&b=2&utm_source=x"),
    ("https://example.com/p/", "?a=1&b=2#frag"),
    ("http://example.com:80/p/", "?utm_campaign=y&b=2&a=1"),
)


def _url_spike_col():
    key = (F.col("doc_id") % 97).cast("string")
    v = F.col("doc_id") % 5
    expr = F.lit(None).cast("string")
    for i, (pre, post) in enumerate(_URL_VARIANTS):
        expr = F.when(v == i, F.concat(F.lit(pre), key,
                                       F.lit(post))).otherwise(expr)
    return expr


def _url_spike_sql() -> str:
    key = "CAST(doc_id % 97 AS VARCHAR)"
    arms = "\n".join(
        f"  WHEN doc_id % 5 = {i} THEN '{pre}' || {key} || '{post}'"
        for i, (pre, post) in enumerate(_URL_VARIANTS))
    return f"CASE\n{arms}\nEND"


def _url_dedup_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.urls import (
        canonical_url_sql)
    canon = canonical_url_sql(
        f"(SELECT doc_id, {_url_spike_sql()} AS url FROM documents)",
        "url", "doc_id, url")
    return f"""
WITH c AS ({canon})
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
       CAST(min(doc_id) AS BIGINT) AS keeper_id
FROM c GROUP BY canonical_url
"""


@q("dedup_url_canonical", ("URL-DEDUP",), oracle=_url_dedup_oracle(),
   note="canonical-URL refetch dedup (crawl hygiene, the cheapest dedup "
        "pass): fragment/case/default-port/www/trailing-slash/utm "
        "normalization + bytewise query-param sort, all string/array "
        "built-ins (zero Python, no shuffle until the final "
        "map-side-combined groupBy on the canonical string); the value "
        "oracle pins every normalization rule via the 5-variant spike")
def dedup_url_canonical(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.urls import url_dedup_report
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", _url_spike_col().alias("url")))
    return url_dedup_report(d)


def _frontier_spike_col():
    return F.concat(F.lit("https://WWW.h"),
                    (F.col("doc_id") % 13).cast("string"),
                    F.lit(".Example.com:443/p/"),
                    (F.col("doc_id") % 97).cast("string"),
                    F.lit("?x=1&utm_ref=f"))


def _frontier_spike_sql() -> str:
    return ("'https://WWW.h' || CAST(doc_id % 13 AS VARCHAR) || "
            "'.Example.com:443/p/' || CAST(doc_id % 97 AS VARCHAR) || "
            "'?x=1&utm_ref=f'")


def _frontier_cap_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        cap_per_key_sql)
    from rgd_rnaseq_workflows_spark.operators.urls import (
        canonical_url_sql)
    canon = canonical_url_sql(
        f"(SELECT doc_id, {_frontier_spike_sql()} AS url "
        "FROM documents)", "url", "doc_id")
    capped = cap_per_key_sql(
        f"""(SELECT doc_id, canonical_url,
        split_part(split_part(canonical_url, '://', 2), '/', 1) AS host
        FROM ({canon}))""",
        "host", 5, "doc_id", cols="doc_id, canonical_url, host")
    return capped


@q("crawl_frontier_cap", ("FRONTIER",), oracle=_frontier_cap_oracle(),
   note="crawl-frontier politeness budget: canonicalize (one codegen "
        "projection), key on the CANONICAL host, keep at most K pages "
        "per host via the skew-safe two-phase cap (a hot domain with "
        "1e9 pages at 100 TB never funnels through one window task); "
        "value oracle pins the canonical form AND the per-host "
        "keep_rank survivors")
def crawl_frontier_cap(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import cap_per_key
    from rgd_rnaseq_workflows_spark.operators.urls import (
        with_canonical_url)
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", _frontier_spike_col().alias("url")))
    c = (with_canonical_url(d)
         .withColumn("host", F.split_part(
             F.split_part(F.col("canonical_url"), F.lit("://"),
                          F.lit(2)), F.lit("/"), F.lit(1)))
         .select("doc_id", "canonical_url", "host"))
    return cap_per_key(c, "host", cap=5, id_col="doc_id")


def _host_split_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        split_assign_sql)
    from rgd_rnaseq_workflows_spark.operators.urls import (
        canonical_url_sql)
    spike = ("'https://H' || CAST(doc_id % 37 AS VARCHAR) || "
             "'.site.Example.org/d/' || CAST(doc_id AS VARCHAR)")
    canon = canonical_url_sql(
        f"(SELECT doc_id, {spike} AS url FROM documents)",
        "url", "doc_id")
    split = split_assign_sql("host", seed=13)
    return f"""
WITH c AS ({canon}),
h AS (SELECT doc_id,
             split_part(split_part(canonical_url, '://', 2), '/', 1)
               AS host
      FROM c)
SELECT host, {split} AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM h GROUP BY host, split
"""


@q("split_host_assign", ("SPLIT-HOST",), oracle=_host_split_oracle(),
   note="host-level train/val/test splits — the standard web-data "
        "leakage rule: near-duplicate pages cluster within a site, so "
        "the split is a deterministic md5-bucket property of the "
        "CANONICAL host and every page of a host lands in one split "
        "by construction (the cluster_split_assign idea with the "
        "component oracle replaced by the URL structure — no pair "
        "generation needed at all); stable under repartitioning and "
        "re-crawls")
def split_host_assign(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import split_assign
    from rgd_rnaseq_workflows_spark.operators.urls import (
        with_canonical_url)
    spike = F.concat(F.lit("https://H"),
                     (F.col("doc_id") % 37).cast("string"),
                     F.lit(".site.Example.org/d/"),
                     F.col("doc_id").cast("string"))
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", spike.alias("url"))
    c = (with_canonical_url(d)
         .withColumn("host", F.split_part(
             F.split_part(F.col("canonical_url"), F.lit("://"),
                          F.lit(2)), F.lit("/"), F.lit(1))))
    return (c.withColumn("split", split_assign(F.col("host"), seed=13))
            .groupBy("host", "split")
            .agg(F.count("*").alias("n_docs")))


# =============================================================================
# Batch r10 — hybrid retrieval fusion + crawl novelty profiling
# =============================================================================

_RRF_QUERY = "w1 w7 w42"


def _rrf_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.retrieval import (
        rrf_fusion_sql)
    return rrf_fusion_sql("documents", "embeddings", _RRF_QUERY,
                          query_id=0, k=10, n_candidates=20)


@q("retrieval_rrf_fusion", ("RETR-RRF",), oracle=_rrf_oracle(),
   note="hybrid retrieval: BM25 lexical top-20 + exact-cosine dense "
        "top-20 fused by Reciprocal Rank Fusion (Cormack 2009) - rank "
        "positions are comparable across scorers where raw scores are "
        "not; 1e6 div (60+rank) micro-points, exact integer fusion, "
        "both lists TakeOrdered (no corpus sort)")
def retrieval_rrf_fusion(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.retrieval import rrf_fusion
    return rrf_fusion(_t(spark, sf_dir, "documents"),
                      _t(spark, sf_dir, "embeddings"),
                      _RRF_QUERY, query_id=0, k=10, n_candidates=20)


def _novelty_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ngram_novelty_report_sql)
    return ngram_novelty_report_sql("documents", n=3)


@q("text_ngram_novelty", ("TXT-NOVELTY",),
   oracle=_novelty_oracle(),
   note="per-document 3-gram novelty vs everything ingested before it "
        "(gram's global first doc via ONE map-side-combined groupBy + "
        "join back - no corpus window/self-join); novelty collapse = "
        "a feed re-crawling itself, dedup's leading indicator")
def text_ngram_novelty(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ngram_novelty_report)
    return ngram_novelty_report(_t(spark, sf_dir, "documents"), n=3)


def _ccnet_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ccnet_perplexity_buckets_sql)
    return ccnet_perplexity_buckets_sql("documents", n_buckets=3)


@q("quality_ccnet_buckets", ("Q-CCNET",), oracle=_ccnet_oracle(),
   note="the CCNet head/middle/tail partition (Wenzek 2020): rank "
        "every doc by exact-integer per-bigram KN micro-nats, cut "
        "equal rank slices - head is the LM-training keep set; one "
        "range-partitioned sort of the doc-scale report, no float "
        "ordering anywhere so both engines cut identical buckets")
def quality_ccnet_buckets(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ccnet_perplexity_buckets)
    return ccnet_perplexity_buckets(_t(spark, sf_dir, "documents"),
                                    n_buckets=3)


@q("text_langid_confusion", ("TXT-LANGID-CM",), oracle=f"""
SELECT lang AS labeled, {TX.lang_id_sql('text')} AS predicted,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang, predicted
ORDER BY labeled, predicted
""", note="language-ID eval: labeled-vs-predicted confusion matrix of "
          "the stopword-vote classifier over the corpus - ONE "
          "map-side-combined groupBy on (label, prediction); the "
          "diagonal mass is the classifier's accuracy audit, the "
          "off-diagonal cells say WHICH languages leak into which")
def text_langid_confusion(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy(F.col("lang").alias("labeled"),
                     TX.lang_id("text").alias("predicted"))
            .agg(F.count("*").alias("n_docs"))
            .orderBy("labeled", "predicted"))


def _skew_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        key_skew_report_sql)
    return key_skew_report_sql("lineitem", "l_suppkey", top_k=10)


@q("profile_key_skew", ("PROF-SKEW",), oracle=_skew_oracle(),
   note="shuffle-skew pre-flight: exact top-k key concentration of a "
        "join/agg key (ppm share, cumulative share, multiple of the "
        "mean key load) - the decision input for salting and AQE "
        "skew-join sizing BEFORE committing a 100 TB shuffle; one "
        "map-side-combined groupBy + a top-k window")
def profile_key_skew(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        key_skew_report)
    return key_skew_report(_t(spark, sf_dir, "lineitem"), "l_suppkey",
                           top_k=10)


def _ccnet_keep_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        ccnet_keep_gate_sql)
    return ccnet_keep_gate_sql("source = 'src0'", "source <> 'src0'",
                               n_buckets=3, keep_buckets=1)


@q("stream_ccnet_keep", ("STREAM-CCNET",), oracle=_ccnet_keep_oracle(),
   note="streaming CCNet keep gate: a stream cannot compute the batch "
        "head/middle/tail GLOBAL RANK, so the (bg, nll6) KN table and "
        "the keep cut-point are FROZEN from a batch run over the "
        "reference slice and each arriving doc is a pure per-document "
        "decision (frozen-LM stream-static join + one streaming "
        "aggregation + an exact integer comparison) - batch twin of "
        "streaming/corpus_stream.stream_ccnet_keep, stream==batch "
        "kept set pinned in tests/test_streaming.py")
def stream_ccnet_keep(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        bigram_counts, ccnet_keep_gate, ccnet_keep_threshold,
        kn_nll_table)
    from rgd_rnaseq_workflows_spark.session import checkpoint_df
    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("source") == "src0")
    probe = d.filter(F.col("source") != "src0")
    # the frozen artifacts a deployment persists next to the index:
    # the LM table (checkpointed - the threshold collect and the gate
    # both read it) and the driver-side cut-point long
    nll = checkpoint_df(kn_nll_table(bigram_counts(ref)))
    cut = ccnet_keep_threshold(ref, n_buckets=3, keep_buckets=1,
                               nll_table=nll)
    return ccnet_keep_gate(probe, nll, cut)


def _ks_drift_oracle() -> str:
    from rgd_rnaseq_workflows_spark.functions.text import token_count_sql
    from rgd_rnaseq_workflows_spark.operators.snapshot import ks_drift_sql
    return ks_drift_sql(
        "SELECT text FROM documents WHERE source = 'src0'",
        "SELECT text FROM documents WHERE source <> 'src0'",
        token_count_sql("text"))


@q("corpus_length_ks_drift", ("DRIFT-KS",), oracle=_ks_drift_oracle(),
   note="exact two-sample Kolmogorov-Smirnov drift over the token-"
        "length distribution between two corpus snapshots: TV drift "
        "sees vocabulary moves, KS sees SHAPE moves (a boilerplate-"
        "stripper change shifts every doc shorter without moving "
        "vocabulary rank). Integer cross-multiplied CDFs - never a "
        "float CDF - so both engines report the identical statistic; "
        "corpus folds map-side into domain-scale histograms")
def corpus_length_ks_drift(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.functions import text as TX
    from rgd_rnaseq_workflows_spark.operators.snapshot import (
        ks_drift_report)
    d = _t(spark, sf_dir, "documents")
    return ks_drift_report(d.filter(F.col("source") == "src0"),
                           d.filter(F.col("source") != "src0"),
                           TX.token_count("text"))


def _calibration_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        classifier_calibration_sql)
    return classifier_calibration_sql(
        f"{TX.lang_id_sql('text')} = lang", n_buckets=1 << 12,
        n_bins=10)


@q("quality_classifier_calibration", ("QUALITY-CALIB",),
   oracle=_calibration_oracle(),
   note="reliability diagram for the hashed linear quality classifier "
        "(the eval a corpus filter runs before trusting a threshold at "
        "100 TB): documents binned by exact integer micro-logit, per "
        "bin the observed positive rate against lang-ID agreement as "
        "ground truth - exact integer bins/rates so both engines "
        "report identical rows; same single-shuffle inference plan, "
        "|bins|-row fold")
def quality_classifier_calibration(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        classifier_calibration, pseudo_weights)
    d = _t(spark, sf_dir, "documents")
    w = pseudo_weights(d.sparkSession, 1 << 12)
    return classifier_calibration(
        d, w, n_buckets=1 << 12,
        truth=TX.lang_id("text") == F.col("lang"), n_bins=10)


def _shard_diff_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.packing import (
        shard_manifest_diff_sql)
    return shard_manifest_diff_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id, CASE WHEN doc_id % 97 = 0 "
        "THEN text || ' edited' ELSE text END AS text "
        "FROM documents WHERE doc_id % 101 <> 0",
        n_shards=16, seed=11)


@q("corpus_shard_diff", ("SHARD-DIFF",), oracle=_shard_diff_oracle(),
   note="selective re-publish decision between two corpus versions: "
        "per-shard order-free content fingerprints (count + two-seed "
        "md5 XOR folds - one map-side aggregation per snapshot) "
        "full-outer joined on the shard key; at 100 TB this rewrites "
        "the three shards a crawl refresh touched instead of all of "
        "them. Simulated edit/delete churn in both engines")
def corpus_shard_diff(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.packing import (
        shard_manifest_diff)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = (d.filter(F.col("doc_id") % 101 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 97 == 0,
                          F.concat(F.col("text"), F.lit(" edited")))
                   .otherwise(F.col("text")).alias("text")))
    return shard_manifest_diff(d, new, n_shards=16, seed=11)


# =============================================================================
# Batch 12 (round 11 continuation) — skyline / conversations / isotropy
# =============================================================================

def _skyline_feat_sql() -> str:
    toks = TX.tokens_sql("text")
    return (
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct, "
        "CAST(any_value(n_chars) AS BIGINT) AS n_chars, "
        "CAST(max(cnt) AS BIGINT) AS max_rep FROM ("
        "SELECT doc_id, n_chars, tok, count(*) AS cnt "
        f"FROM documents, unnest({toks}) AS t(tok) "
        "GROUP BY doc_id, n_chars, tok) GROUP BY doc_id")


def _skyline_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.skyline import (
        pareto_skyline_sql)
    inner = pareto_skyline_sql(
        _skyline_feat_sql(),
        {"n_distinct": "max", "n_chars": "min", "max_rep": "min"},
        id_col="doc_id")
    return f"SELECT * FROM ({inner}) ORDER BY doc_id"


@q("profile_pareto_skyline", ("SKYLINE",), oracle=_skyline_oracle(),
   note="multi-criteria corpus selection frontier: docs no other doc "
        "beats on ALL of (vocabulary richness max, length min, "
        "repetitiveness min) at once - the skyline operator (Borzsonyi "
        "2001) Spark lacks; grid-pruned distributed form: cell stats "
        "collapse to <= bins^d metadata, driver prunes cells whose "
        "whole extent is dominated, the point-level verify is an EQUI "
        "join on candidate-cell id (never a BNL/cartesian) + one "
        "anti-join - the naive NOT EXISTS twin proves the prune exact")
def profile_pareto_skyline(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.skyline import (
        pareto_skyline)
    d = _t(spark, sf_dir, "documents")
    tf = (d.select("doc_id", "n_chars",
                   F.explode(TX.tokens("text")).alias("tok"))
          .groupBy("doc_id", "n_chars", "tok")
          .agg(F.count("*").alias("cnt")))
    feat = (tf.groupBy("doc_id", "n_chars")
            .agg(F.count("*").cast("long").alias("n_distinct"),
                 F.max("cnt").cast("long").alias("max_rep"))
            .select("doc_id", "n_distinct",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    "max_rep"))
    sky = pareto_skyline(
        feat, {"n_distinct": "max", "n_chars": "min", "max_rep": "min"},
        id_col="doc_id")
    return sky.orderBy("doc_id")


def _sft_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.conversations import (
        assemble_conversations_sql)
    src = ("SELECT user_id, epoch_us(ts) AS us, event_id, "
           "CASE WHEN event_type IN ('click', 'view') THEN 'user' "
           "ELSE 'assistant' END AS role, "
           "event_type || ' v' || CAST(round(value * 100) AS BIGINT) "
           "|| ' k' || json_extract_string(props, '$.k') AS content "
           "FROM events")
    return assemble_conversations_sql(
        src, conv_col="user_id", order_sql="us, event_id",
        role_col="role", content_col="content")


@q("sft_assemble_conversations", ("SFT-ASSEMBLE",), oracle=_sft_oracle(),
   note="SFT data prep: flat per-utterance logs reassembled into chat-"
        "template strings with trainer invariants enforced - ordered "
        "turns, consecutive same-role runs merged (gaps-and-islands), "
        "trim to complete user->assistant exchanges, per-conversation "
        "token accounting for downstream packing; everything keyed by "
        "conversation id (one window pass + two key-local aggs, no "
        "joins, per-entity state only) and the rendered template is "
        "value-hashed byte-for-byte against the DuckDB twin")
def sft_assemble_conversations(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.conversations import (
        assemble_conversations)
    e = _events(spark, sf_dir)
    src = e.select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id",
        F.when(F.col("event_type").isin("click", "view"), "user")
        .otherwise("assistant").alias("role"),
        F.concat(F.col("event_type"), F.lit(" v"),
                 F.round(F.col("value") * 100).cast("long"),
                 F.lit(" k"),
                 F.get_json_object("props", "$.k")).alias("content"))
    out = assemble_conversations(
        src, conv_col="user_id", order_cols=["us", "event_id"],
        role_col="role", content_col="content")
    return out.orderBy("user_id")


def _isotropy_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.pca import (
        isotropy_report_sql)
    return isotropy_report_sql("embeddings")


@q("embedding_isotropy", ("EMB-ISOTROPY",), oracle=_isotropy_oracle(),
   note="embedding-space isotropy gate before trusting cosine "
        "geometry: mean pairwise similarity WITHOUT a pair join "
        "(||sum v||^2 - sum||v||^2 identity over per-dim fix-point "
        "sums) + per-dimension energy share (dimension-collapse "
        "detector); one corpus pass to d mergeable integer rows, one "
        "d-row fold, three final divisions - 1 metadata row out")
def embedding_isotropy(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.pca import isotropy_report
    e = _t(spark, sf_dir, "embeddings")
    return isotropy_report(e, dims=64)


def _maxcover_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.selection import (
        greedy_max_cover_sql)
    return greedy_max_cover_sql("documents", k=10, shingle_n=2)


@q("sample_greedy_maxcover", ("MAXCOVER",), oracle=_maxcover_oracle(),
   note="submodular diversity selection: greedy max-cover over bigram "
        "shingles (Nemhauser 1-1/e guarantee) - seed sets / eval "
        "slices / 'show me what is in here' subsets; incremental-"
        "remainder rounds (r11): the checkpointed shingle table is "
        "updated hs := hs \\ pick per round, so each of k rounds is "
        "one distributed TakeOrdered(1) on size(hs) plus a one-doc "
        "literal subtraction - k corpus passes, k one-row collects, "
        "zero joins, no growing covered-literal; pick "
        "sequence bit-reproduced by the k-level unrolled DuckDB twin")
def sample_greedy_maxcover(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.selection import (
        greedy_max_cover)
    d = _t(spark, sf_dir, "documents")
    return greedy_max_cover(d, k=10, shingle_n=2)


def _kcenter_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.selection import (
        k_center_coreset_sql)
    return k_center_coreset_sql("embeddings", k=8)


@q("sample_kcenter_coreset", ("KCENTER",), oracle=_kcenter_oracle(),
   note="geometric coreset: Gonzalez farthest-first traversal over "
        "fix-point integer embeddings (2-approx k-center cover) - "
        "active-learning seeds / PQ training samples / outlier-"
        "inclusive panels; incremental min-distance column (least "
        "with dist^2 to the ONE new center per round - d ops/row, "
        "never k*d) + one TakeOrdered(1) per round, exact integer "
        "distances so the pick sequence and radius-decay curve are "
        "bit-reproduced by the unrolled DuckDB twin")
def sample_kcenter_coreset(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.selection import (
        k_center_coreset)
    e = _t(spark, sf_dir, "embeddings")
    return k_center_coreset(e, k=8)


def _hardneg_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        hard_negative_report_sql)
    return hard_negative_report_sql(
        "embeddings", k=5, margin_ppm=50_000, block_sql="label // 4")


@q("ann_hard_negatives", ("ANN-HARDNEG",), oracle=_hardneg_oracle(),
   note="contrastive-training hard-negative mining: per anchor the "
        "top-k most-similar different-label vectors, graded against "
        "the nearest positive (FaceNet taxonomy: violation / "
        "semi_hard / easy / no_positive); micro-cosine integer "
        "comparisons (margin_alignment discipline), candidates EQUI "
        "on the block, BOTH window passes share one anchor-hash "
        "exchange - per-anchor state block-bounded")
def ann_hard_negatives(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        hard_negative_report)
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "blk", F.expr("label div 4"))
    return hard_negative_report(e, k=5, margin_ppm=50_000,
                                block_col="blk")


def _heaps_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        heaps_curve_sql)
    return heaps_curve_sql("documents", n_buckets=10)


@q("text_heaps_curve", ("HEAPS-CURVE",), oracle=_heaps_oracle(),
   note="Heaps-law vocabulary growth: corpus in ingestion order split "
        "into 10 equal-count slices, cumulative docs/tokens/vocab per "
        "slice + marginal novelty rate (new types per 10k tokens, "
        "integer bp) - the 'is more crawl still buying new language' "
        "curve; doc ranks via the distributed two-phase global_ranks "
        "(never a single-task sort), first-occurrence bucket = "
        "min(bucket) per type (monotone in rank), cumulative window "
        "on the 10-row grid only")
def text_heaps_curve(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import heaps_curve
    return heaps_curve(_t(spark, sf_dir, "documents"), n_buckets=10)


def _wpctl_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.exact_quantiles import (
        weighted_group_quantiles_sql)
    return weighted_group_quantiles_sql(
        "documents", by="source", value_col=TX.token_count_sql("text"),
        weight_sql=TX.token_count_sql("text"), percents=[25, 50, 90])


@q("agg_weighted_percentiles", ("WPCTL",), oracle=_wpctl_oracle(),
   note="token-WEIGHTED length percentiles per source: the doc length "
        "the median consumed TOKEN sits in (training corpora are read "
        "token-weighted, so packing/capacity planning needs this, not "
        "the doc-weighted median); exact integer weighted-histogram "
        "walk - domain-scale cumulative window partitioned by group, "
        "integer ceil targets, engine-identical picks")
def agg_weighted_percentiles(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.exact_quantiles import (
        weighted_group_quantiles)
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", TX.token_count("text"))
    return weighted_group_quantiles(
        d, by="source", value_col="n_tokens", weight_col="n_tokens",
        percents=[25, 50, 90]).orderBy("source")


def _hardneg_ivf_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        hard_negative_report_ivf_sql)
    return hard_negative_report_ivf_sql(
        "embeddings", kc=8, nprobe=2, iters=2, k=5, margin_ppm=50_000)


@q("ann_hard_negatives_ivf", ("ANN-HARDNEG-IVF",),
   oracle=_hardneg_ivf_oracle(),
   note="hard-negative mining with IVF blocking - the 100 TB form "
        "whose block cardinality tracks the corpus (kc ∝ N/list "
        "size) instead of a fixed label enum: candidates live in "
        "exactly their nearest coarse list, anchors probe nprobe "
        "lists, negative pool follows the IVF recall trade; exact-int "
        "centroid machinery so the unrolled-Lloyd twin replays the "
        "same lists")
def ann_hard_negatives_ivf(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.similarity import (
        hard_negative_report_ivf)
    e = _t(spark, sf_dir, "embeddings")
    return hard_negative_report_ivf(e, kc=8, nprobe=2, iters=2, k=5,
                                    margin_ppm=50_000)


def _padding_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.packing import (
        padding_report_sql)
    return padding_report_sql("documents", ctx=64, batch_size=16)


@q("pack_padding_report", ("PACK-PAD",), oracle=_padding_oracle(),
   note="length-bucketed batching efficiency: every non-empty doc "
        "truncated to ctx and assigned the smallest pow-2 bucket that "
        "holds it, per-bucket batch counts and exact-integer padding "
        "waste share - the report a training feeder reads before "
        "choosing pow-2 bucketing vs full sequence packing; one "
        "map-side-combined agg to ~log2(ctx) rows, corpus never "
        "shuffled")
def pack_padding_report(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.packing import padding_report
    d = _t(spark, sf_dir, "documents")
    return padding_report(d, ctx=64, batch_size=16)


def _l_diversity_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import l_diversity_sql
    return l_diversity_sql(
        "(SELECT lang, source, n_chars // 50 AS len_band FROM documents)",
        ["lang", "source"], "len_band", l=3)


@q("profile_l_diversity", ("PROF-LDIV",), oracle=_l_diversity_oracle(),
   note="l-diversity audit (Machanavajjhala 2007) over the "
        "(lang, source) quasi-identifier with the length band as the "
        "sensitive attribute: classes with < l distinct sensitive "
        "values and the exact basis-point share of rows exposed to the "
        "homogeneity attack k-anonymity misses; two map-side-combined "
        "aggs collapsing corpus -> pairs -> classes -> one metadata row")
def profile_l_diversity(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        l_diversity_report)
    d = _t(spark, sf_dir, "documents").withColumn(
        "len_band", F.expr("n_chars div 50"))
    return l_diversity_report(d, ["lang", "source"], "len_band", l=3)


def _neyman_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        neyman_allocation_sql)
    return neyman_allocation_sql("documents", "source", "n_chars",
                                 n_total=200)


@q("sample_neyman_allocation", ("SAMPLE-NEYMAN",),
   oracle=_neyman_oracle(),
   note="Neyman-optimal stratified allocation n_h ~ N_h*sigma_h from "
        "exact decimal-38 moment sums (D_h = n*Sxx - Sx^2 is an exact "
        "integer; IEEE sqrt is correctly rounded so both engines floor "
        "the identical milli weight), seats by the integer largest-"
        "remainder method - the design step before stratified_hash_"
        "sample picks rates; one agg to |strata| rows, rank windows on "
        "the metadata-scale strata frame only")
def sample_neyman_allocation(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        neyman_allocation)
    d = _t(spark, sf_dir, "documents")
    return neyman_allocation(d, "source", "n_chars", n_total=200)


def _minhash_diversity_oracle() -> str:
    return DD.minhash_diversity_sql("documents", num_hashes=8,
                                    shingle_n=3)


@q("dedup_minhash_diversity", ("DEDUP-DIVERSITY",),
   oracle=_minhash_diversity_oracle(),
   note="corpus mean-pairwise-Jaccard estimator from per-slot minhash "
        "collision counts (sum_v C(c,2) / C(n,2) per permutation slot, "
        "exact integer basis points) - the dedup pre-flight redundancy "
        "number computed WITHOUT enumerating a single pair: slot-value "
        "histogram collapses map-side, report is num_hashes rows; the "
        "per-slot spread is the estimator's own error bar")
def dedup_minhash_diversity(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_diversity_report(d, num_hashes=8, shingle_n=3)


def _source_overlap_oracle() -> str:
    return DD.source_overlap_minhash_sql("documents", num_hashes=16,
                                         shingle_n=3)


@q("dedup_source_overlap", ("DEDUP-SRC-OVERLAP",),
   oracle=_source_overlap_oracle(),
   note="pairwise source-level shingle-set Jaccard from per-source "
        "minhash signatures (slot i = min permuted hash over ALL "
        "shingles of the group, agreement share = unbiased Jaccard "
        "estimate) - the which-feeds-mirror-each-other pre-flight: "
        "corpus collapses to |sources| signature rows in one map-side "
        "groupBy, pair join is a broadcast self-join on that metadata "
        "frame; no document pair ever enumerated")
def dedup_source_overlap(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.source_overlap_minhash(d, "source", num_hashes=16,
                                     shingle_n=3)


def _join_explosion_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        join_explosion_sql)
    return join_explosion_sql(
        "(SELECT * FROM events WHERE event_type = 'view')",
        "(SELECT * FROM events WHERE event_type = 'click')",
        "user_id", "user_id", top_k=10)


@q("profile_join_explosion", ("PROF-JOINX",),
   oracle=_join_explosion_oracle(),
   note="join-cardinality pre-flight: exact inner-join output "
        "prediction sum(c_a*c_b) from the two per-key count tables "
        "plus the top-k contributing keys with exact ppm shares - the "
        "report to read BEFORE keying a 100 TB many-to-many shuffle; "
        "two map-side-combined per-side aggs, a key-scale count-table "
        "join, and the two-phase lossless top-k (no corpus window)")
def profile_join_explosion(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        join_explosion_report)
    ev = _events(spark, sf_dir)
    return join_explosion_report(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        "user_id", "user_id", top_k=10)


def _mi_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        mutual_information_sql)
    return mutual_information_sql("documents", "lang", "source")


@q("profile_mutual_information", ("PROF-MI",), oracle=_mi_oracle(),
   note="categorical dependence profile: exact-count plug-in "
        "entropies H(X), H(Y), H(X,Y) as integer sums of per-term "
        "rounded micro-nats (the KN discipline - one fixed scalar ln "
        "tree per count, order-independent integer folds) and "
        "mi = hx+hy-hxy as an integer identity, normalized-MI in bp "
        "with the rounding residue clamped before the floor/trunc "
        "division divergence - the stratification-redundancy "
        "pre-flight; corpus -> cell table in one map-side groupBy, "
        "margins/entropies at cell scale")
def profile_mutual_information(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        mutual_information_report)
    d = _t(spark, sf_dir, "documents")
    return mutual_information_report(d, "lang", "source")


def _logreg_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        hashed_logreg_train_sql)
    return hashed_logreg_train_sql("n_chars > 150", "documents",
                                   n_buckets=1 << 9, epochs=3,
                                   lr_num=1, lr_den=16)


@q("quality_classifier_train", ("QUALITY-TRAIN",),
   oracle=_logreg_oracle(),
   note="distributed full-batch logistic-regression TRAINING for the "
        "hashed linear quality classifier: exact integer weight "
        "trajectory (micro-unit weights, per-term-rounded gradient "
        "folds, trunc-toward-zero update division verified identical "
        "on both engines), overflow-safe softplus loss; one "
        "checkpointed (doc,y,bucket,c) feature table then two "
        "shuffles per epoch, weights/gradients are bucket-scale "
        "metadata collects (the k-means-centroid pattern); per-epoch "
        "report row scored with pre-update weights - loss must fall")
def quality_classifier_train(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        hashed_logreg_train)
    d = _t(spark, sf_dir, "documents")
    return hashed_logreg_train(d, F.col("n_chars") > 150,
                               n_buckets=1 << 9, epochs=3,
                               lr_num=1, lr_den=16)


def _silhouette_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.clustering import (
        label_silhouette_sql)
    return label_silhouette_sql("embeddings")


@q("cluster_label_silhouette", ("CLUST-SIL",),
   oracle=_silhouette_oracle(),
   note="simplified-silhouette partition eval (Hruschka 2004 - "
        "centroid distances, not all pairs) for the label column in "
        "embedding space: per-label mean s=(b-a)/max(a,b) in exact "
        "ppm and the misplaced count (closer to a foreign centroid = "
        "the label-noise estimate); unit-int vectors, trunc-division "
        "centroids, exact int64 d2, one IEEE sqrt per side; corpus "
        "-> |labels|*dims centroid agg -> broadcast centroid-array "
        "cross join with the zip_with fold in codegen - no point "
        "pair ever formed")
def cluster_label_silhouette(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.clustering import (
        label_silhouette_report)
    e = _t(spark, sf_dir, "embeddings")
    return label_silhouette_report(e)


def _priority_keepers_oracle() -> str:
    """The cluster fixpoint of _cluster_keepers_oracle with the
    quality-priority keeper (max n_chars, tie min id) and exact
    retained/dropped score totals."""
    pairs_sql = REGISTRY["dedup_ngram_jaccard"].oracle.strip()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id),
comps AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
j AS (SELECT c.comp, c.id, CAST(d.n_chars AS BIGINT) AS score
      FROM comps c JOIN documents d ON d.doc_id = c.id),
keep AS (
  SELECT comp, id AS keeper_id, score AS keeper_score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY comp ORDER BY score DESC, id) AS rk FROM j)
  WHERE rk = 1)
SELECT j.comp, CAST(count(*) AS BIGINT) AS n_members,
       max(k.keeper_id) AS keeper_id,
       CAST(max(k.keeper_score) AS BIGINT) AS keeper_score,
       CAST(sum(j.score) AS BIGINT) AS total_score,
       CAST(sum(j.score) - max(k.keeper_score) AS BIGINT)
         AS dropped_score
FROM j JOIN keep k USING (comp)
GROUP BY j.comp
"""


@q("dedup_priority_keepers", ("DEDUP-PRIORITY",),
   oracle=None,  # composed below from the ngram-pairs oracle text
   note="quality-priority keeper policy over near-dup clusters: keep "
        "the highest-n_chars member (tie min id) instead of min-id, "
        "with exact retained/dropped score totals - the policy a "
        "curation pass wants when duplicate copies differ in quality; "
        "same component fixpoint as dedup_cluster_keepers, score join "
        "at doc scale, argmax window partitioned by cluster")
def dedup_priority_keepers(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.components import (
        cluster_keepers_by_priority)
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, block_col="lang", shingle_n=2,
                                   threshold=0.8)
    return cluster_keepers_by_priority(pairs, d, "n_chars")


REGISTRY["dedup_priority_keepers"].oracle = _priority_keepers_oracle()


def _hill_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import hill_tail_sql
    return hill_tail_sql("documents", ks=(20, 50, 100))


@q("text_hill_tail_index", ("HILL-TAIL",), oracle=_hill_oracle(),
   note="Hill power-law tail-index of the term-frequency distribution "
        "at k=20/50/100 (the Hill-plot stability read): per-head-rank "
        "rounded micro-nat logs, integer ratio sums, one integer "
        "division per k - the quantitative Zipf slope next to "
        "term_head's mass ratios; one map-side term count then the "
        "two-phase bucketed head (no reducer sorts the vocabulary), "
        "all k arms folded over one (kmax+1)-row frame")
def text_hill_tail_index(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        hill_tail_report)
    d = _t(spark, sf_dir, "documents")
    return hill_tail_report(d, ks=(20, 50, 100))


def _bootstrap_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        bootstrap_mean_ci_sql)
    return bootstrap_mean_ci_sql("documents", "source", "n_chars",
                                 n_replicas=32)


@q("sample_bootstrap_ci", ("SAMPLE-BOOTSTRAP",),
   oracle=_bootstrap_oracle(),
   note="Poisson-bootstrap CI for the per-source mean (the "
        "distributed form of resample-with-replacement: replica "
        "weight ~ Poisson(1) per row from the md5-universal hash vs "
        "embedded integer inverse-CDF thresholds): all 32 replica "
        "means fold map-side in ONE corpus pass to "
        "|groups|*replicas rows, CI bounds are exact type-1 "
        "quantiles of integer milli means - the error bar a mixing "
        "decision carries before trusting a sampled statistic")
def sample_bootstrap_ci(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.sampling import (
        bootstrap_mean_ci)
    d = _t(spark, sf_dir, "documents")
    return bootstrap_mean_ci(d, "source", "n_chars", n_replicas=32)


def _benford_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import benford_sql
    return benford_sql("lineitem", "l_extendedprice")


@q("profile_benford_audit", ("PROF-BENFORD",),
   oracle=_benford_oracle(),
   note="Benford first-significant-digit audit of l_extendedprice: "
        "exact integer-cent fix-pointing, integer-string first digit "
        "(float formatting is NOT engine-portable - the cast order is "
        "the point), driver-literal expected ppm, per-digit chi-square "
        "contributions - the forensic screen for fabricated/template "
        "amounts (TPC-H's uniform prices violate Benford and the "
        "audit flags exactly that); corpus collapses to <= 9 rows in "
        "one map-side-combined pass")
def profile_benford_audit(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        benford_report)
    li = _t(spark, sf_dir, "lineitem")
    return benford_report(li, "l_extendedprice")


def _disorder_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        disorder_sql)
    return disorder_sql("events")


@q("events_disorder_report", ("EVT-DISORDER",),
   oracle=_disorder_oracle(),
   note="event-time disorder audit in arrival order (event_id): "
        "lateness vs the exclusive running event-time max, exact "
        "epoch-microsecond integers - max_late_us IS the smallest "
        "safe withWatermark and late_ppm the drop cost of a tighter "
        "one; the global running max is the two-phase distributed "
        "prefix (bucket windows + metadata-scale bucket prefix, the "
        "pack_chunks discipline), never one unpartitioned corpus "
        "window; oracle is the plain global window (lossless)")
def events_disorder_report(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        disorder_report)
    e = _events(spark, sf_dir)
    return disorder_report(e)


def _trend_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        group_trend_sql)
    return group_trend_sql("documents", "source", "doc_id", "n_chars")


@q("profile_group_trend", ("PROF-TREND",), oracle=_trend_oracle(),
   note="per-source OLS trend of n_chars over ingestion order "
        "(doc_id): slope/intercept/r2 from exact decimal-38 / HUGEINT "
        "moment sums (num = n*Sxy - Sx*Sy exact - no float "
        "accumulation, no catastrophic cancellation), one fixed "
        "rounded double tree per ratio, NULLs on degenerate axes - "
        "the is-this-feed-drifting detector; ONE map-side-combined "
        "agg to |groups| rows, corpus never shuffled")
def profile_group_trend(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        group_trend_report)
    d = _t(spark, sf_dir, "documents")
    return group_trend_report(d, "source", "doc_id", "n_chars")


def _dp_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        dp_noisy_counts_sql)
    return dp_noisy_counts_sql("documents", "source",
                               epsilon_milli=500)


@q("profile_dp_noisy_counts", ("PROF-DP",), oracle=_dp_oracle(),
   note="Laplace-mechanism noisy histogram release (sensitivity-1 "
        "counts, b = 1/epsilon) in the SEEDED reproducible form: "
        "noise = inverse-CDF of the md5-uniform keyed (seed, group), "
        "one rounding to integer counts, clamp at 0 - the mechanism/"
        "scale plumbing of a DP release with the secret seed swapped "
        "in at production time (documented); one map-side groupBy to "
        "|groups| rows, per-GROUP noise arithmetic, corpus never "
        "shuffled - completes the privacy family next to k-anon/l-div")
def profile_dp_noisy_counts(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        dp_noisy_counts)
    d = _t(spark, sf_dir, "documents")
    return dp_noisy_counts(d, "source", epsilon_milli=500)


def _assortativity_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.graph import (
        assortativity_sql)
    pairs = _simhash_fps_ctes(bits=48, seed=101, shingle_n=2) + """
SELECT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id)
WHERE hamming <= 3"""
    return assortativity_sql(pairs)


@q("graph_assortativity", ("GRAPH-ASSORT",),
   oracle=_assortativity_oracle(),
   note="Newman degree assortativity of the simhash near-dup graph: "
        "Pearson r of end degrees over both edge orientations from "
        "exact decimal-38/HUGEINT moments, one rounded double tree, "
        "NULL on degree-regular graphs - hub-clustered (r>>0) means "
        "giant dedup components, star-shaped (r<0) stays shallow; "
        "degree groupBy + two edge-scale joins + one metadata row, "
        "no pair-of-pairs blowup")
def graph_assortativity(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.graph import (
        assortativity_report)
    d = _t(spark, sf_dir, "documents")
    pairs = DD.simhash_near_pairs(d, bits=48, max_hamming=3,
                                  shingle_n=2)
    return assortativity_report(pairs)


def _lpa_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.graph import (
        label_propagation_sql)
    pairs = _simhash_fps_ctes(bits=48, seed=101, shingle_n=2) + """
SELECT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id)
WHERE hamming <= 3"""
    return label_propagation_sql(pairs, iters=3)


@q("graph_lpa_communities", ("GRAPH-LPA",), oracle=_lpa_oracle(),
   note="synchronous label-propagation communities (Raghavan 2007, "
        "deterministic variant: mode of neighbor labels, count-desc/"
        "label-asc tiebreak, fixed rounds) over the simhash near-dup "
        "graph - "
        "communities, not components: a bridge keeps two dense "
        "families one component but two communities; per round one "
        "edge-scale join + one map-side vote count + one argmax-by-"
        "struct agg (no per-node window), checkpoint-truncated like "
        "the pagerank loop")
def graph_lpa_communities(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.graph import (
        label_propagation_communities)
    d = _t(spark, sf_dir, "documents")
    pairs = DD.simhash_near_pairs(d, bits=48, max_hamming=3,
                                  shingle_n=2)
    return label_propagation_communities(pairs, iters=3)


def _funnel_wilson_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        funnel_wilson_sql)
    return funnel_wilson_sql("events", ("view", "click", "purchase"))


@q("events_funnel_wilson", ("FUNNEL-WILSON",),
   oracle=_funnel_wilson_oracle(),
   note="step-to-step funnel conversion with Wilson score bounds "
        "(the binomial CI that behaves at extreme rates, z embedded "
        "as a driver literal, one fixed rounded double tree per "
        "bound) - whether a funnel drop is real or noise, in exact "
        "ppm; same single corpus fold as events_funnel then a 1-row "
        "agg exploded to |steps|-1 rows")
def events_funnel_wilson(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.funnel import (
        funnel_wilson_report)
    e = _events(spark, sf_dir)
    return funnel_wilson_report(e, ("view", "click", "purchase"))


def _conformal_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        conformal_threshold_sql)
    return conformal_threshold_sql("documents", n_buckets=1 << 12,
                                   alphas_pct=(1, 5, 10))


@q("quality_conformal_threshold", ("QUALITY-CONFORMAL",),
   oracle=_conformal_oracle(),
   note="split-conformal quality-gate calibration: drop threshold = "
        "k-th smallest calibration micro-logit with k = "
        "ceil((n_cal+1)*alpha/100), giving the assumption-free "
        "P(clean doc dropped) <= alpha rank bound, validated against "
        "the held-out split's realized drop rate; md5 hash split, "
        "exact integer logits, value-histogram cumulative walk (the "
        "exact_quantiles discipline), every alpha read off ONE "
        "checkpointed scored frame + a |alpha|-row broadcast join")
def quality_conformal_threshold(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        conformal_threshold_report, pseudo_weights)
    d = _t(spark, sf_dir, "documents")
    wt = pseudo_weights(spark, 1 << 12)
    return conformal_threshold_report(d, wt, 1 << 12,
                                      alphas_pct=(1, 5, 10))


def _basket_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.baskets import (
        association_rules_sql)
    return association_rules_sql(
        "(SELECT l_orderkey, l_partkey %% 199 AS part_bucket "
        "FROM lineitem)".replace("%%", "%"),
        "l_orderkey", "part_bucket", min_support=5, top_k=20)


@q("basket_association_rules", ("BASKET-RULES",),
   oracle=_basket_oracle(),
   note="market-basket association mining (A-priori pair stage) over "
        "order baskets: top-k part-bucket pairs by exact integer ppm "
        "lift with min-support pruning - pair blowup bounded by "
        "per-basket item count via the basket-keyed self-join (never "
        "|items|^2), min-support filters the pair-vocabulary table "
        "before ranking, two-phase lossless top-k, broadcast item "
        "margins; deterministic (lift desc, pair asc) tiebreak")
def basket_association_rules(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.baskets import (
        association_rules)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 199).alias("part_bucket"))
    return association_rules(li, "l_orderkey", "part_bucket",
                             min_support=5, top_k=20)


def _cusum_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        cusum_changepoint_sql)
    return cusum_changepoint_sql(_TS_EVENTS_SQL, 3600)


@q("events_cusum_changepoint", ("EVT-CUSUM",), oracle=_cusum_oracle(),
   note="CUSUM change-point detection per event-type rate series: "
        "scaled integer cumulative deviation C_k = T*prefix_k - k*S "
        "peaks at the most likely rate shift (tie -> earliest), with "
        "exact milli before/after means as the effect size - finds "
        "WHERE the rate moved, complementing rate_anomaly's which-"
        "buckets-are-outliers; corpus -> (group,bucket) counts map-"
        "side, series-scale group windows, argmax-by-struct peak, "
        "one broadcast cut join")
def events_cusum_changepoint(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.timeseries import (
        cusum_changepoint_report)
    e = _events(spark, sf_dir)
    ev = e.select("event_type", F.col("ts").cast("long").alias("sec"))
    return cusum_changepoint_report(ev, 3600)


def _readability_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.quality import (
        readability_sql)
    return readability_sql("documents")


@q("text_readability", ("TEXT-READABILITY",),
   oracle=_readability_oracle(),
   note="Flesch reading-ease per source from three exact integer "
        "counts (tokens, [.!?]+ sentence runs floored at 1/doc, "
        "vowel-run syllable estimate) and ONE rounded double tree - "
        "the classic readability screen; row-local regexp counts "
        "folded in one map-side-combined groupBy, corpus never "
        "shuffled")
def text_readability(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.quality import (
        readability_report)
    d = _t(spark, sf_dir, "documents")
    return readability_report(d)


def _t_closeness_oracle() -> str:
    from rgd_rnaseq_workflows_spark.operators.profile import (
        t_closeness_sql)
    return t_closeness_sql(
        "(SELECT lang, source, n_chars // 50 AS len_band "
        "FROM documents)", ["lang", "source"], "len_band",
        t_milli=200)


@q("profile_t_closeness", ("PROF-TCLOSE",),
   oracle=_t_closeness_oracle(),
   note="t-closeness audit (Li 2007) over the (lang, source) quasi-"
        "identifier: per-class EMD to the global ordered sensitive "
        "distribution via cross-multiplied decimal-38/HUGEINT "
        "cumulative comparisons (no probability floated), trunc-"
        "division milli EMD identical on both engines - catches the "
        "skewness attack l-diversity misses, completing the privacy "
        "ladder k-anon -> l-div -> t-close -> DP; audit grid is "
        "|classes| x m rows with m-row class windows, one metadata "
        "row out")
def profile_t_closeness(spark, sf_dir):
    from rgd_rnaseq_workflows_spark.operators.profile import (
        t_closeness_report)
    d = _t(spark, sf_dir, "documents").withColumn(
        "len_band", F.expr("n_chars div 50"))
    return t_closeness_report(d, ["lang", "source"], "len_band",
                              t_milli=200)
