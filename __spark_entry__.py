"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship: one full crawl round on the sf0.001 synthetic
Common-Crawl corpus (SURVEY.md §7.5).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data operators (dedup / similarity / text
analysis). Oracles run on DuckDB: the standard tables are pre-registered
views; the crawl/richlist fixtures and simulator goldens are referenced by
absolute parquet path (committed under ``data/`` and ``tests/goldens/``).

Float discipline: money aggregates are summed as DECIMAL(20,6) (exact,
order-independent — Spark and DuckDB agree bit-for-bit); ratios are computed
in double FROM those identical decimal operands and rounded; raw passthrough
doubles are never rounded (identical bits on both sides already). The FINAL
projection of every query casts decimal columns to DOUBLE (``_dbl``): the
same exact decimal converts to the same IEEE double on both engines
(correctly-rounded conversion), while Decimal *surface forms* hash
differently in the driver's comparator — round-1's single root cause for
17 hash_match failures (VERDICT.md What's-wrong #1).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from xrpl_rich_list_py_crawler_spark.functions.parsers_ref import (  # noqa: E402
    canonical_label_sql,
)
from xrpl_rich_list_py_crawler_spark.functions.udfs import (  # noqa: E402
    canonical_label_col,
    canonicalize_url_udf,
)
from xrpl_rich_list_py_crawler_spark.operators import dedup as dd  # noqa: E402
from xrpl_rich_list_py_crawler_spark.operators import politeness as pol  # noqa: E402
from xrpl_rich_list_py_crawler_spark.operators import similarity as sim  # noqa: E402
from xrpl_rich_list_py_crawler_spark.operators import textstats as ts  # noqa: E402
from xrpl_rich_list_py_crawler_spark.operators.multimodal import (  # noqa: E402
    extract_features,
)
from xrpl_rich_list_py_crawler_spark.plans import jobs  # noqa: E402
from xrpl_rich_list_py_crawler_spark.plans.rounds import (  # noqa: E402
    CrawlRun,
    seeds_to_frontier,
)
from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog  # noqa: E402
from xrpl_rich_list_py_crawler_spark.sources.fixtures import (  # noqa: E402
    ensure_crawl_fixtures,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _dec(col) -> object:
    """Exact-sum discipline: cast to DECIMAL(20,6) before summing so Spark
    and DuckDB agree bit-for-bit regardless of summation order (double sums
    differ by ulps and flip ROUND ties)."""
    c = col if not isinstance(col, str) else F.col(col)
    return c.cast("decimal(20,6)")


#: tables smaller than this skip the spread entirely (dims like region/
#: nation — the repartition exchange would cost more than it buys)
_SPREAD_FLOOR_BYTES = 100 << 10


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return sum(
            e.stat().st_size
            for e in os.scandir(path)
            if e.is_file() and e.name.endswith(".parquet")
        )
    return 0


def _max_partition_bytes(spark: SparkSession) -> int:
    """spark.sql.files.maxPartitionBytes in bytes, read through the
    session's own byte-string conf: "128m", "64MB" and "1g" mean what they
    mean to the scan's split planning."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Small-scan parallelization (guide §2.5/§6.1, r06): a parquet table
    smaller than one input split (spark.sql.files.maxPartitionBytes,
    default 128 MB) plans as a SINGLE-partition scan, so every map-heavy
    pipeline over it — gram explodes, regex walks, Arrow signature UDFs,
    map-side partial aggregation — ran single-threaded until its first
    exchange. Every sf fixture table is in that regime (documents at
    sf0.1 is 0.6 MB).

    Scale-adaptive, not a local[32] constant: the spread fires only when
    the file bytes yield fewer natural splits than the session's core
    count, so at production corpus sizes (≥ cores × split bytes) it is a
    no-op and the scan's own splits carry the parallelism. Results are
    unaffected — the engine's parallelism-invariance contract
    (tests/test_parallelism_invariance.py) pins that.

    OPT-IN per query (r06 A/B): the exchange pays off only when the scan
    feeds CPU-heavy per-row work (Arrow minhash signatures, regex gate
    batteries, bigram explodes) in a pipeline with few downstream
    stages. Light multi-stage queries lose more to 32-task scheduling
    per stage than they gain (media_decode 0.38s -> 4.6s under a blanket
    spread), so ``_t``/``_fix`` default to the plain scan.
    """
    size = _path_bytes(path)
    if size < _SPREAD_FLOOR_BYTES:
        return df
    par = spark.sparkContext.defaultParallelism
    if size // _max_partition_bytes(spark) >= par:
        return df
    return df.repartition(par)


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    p = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(p)
    return _spread(spark, df, p) if spread else df


def _crawl_sf(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base if base.startswith("sf") else "sf0.01"


def _fix(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    d = ensure_crawl_fixtures(_crawl_sf(sf_dir))
    p = os.path.join(d, f"{name}.parquet")
    df = spark.read.parquet(p)
    return _spread(spark, df, p) if spread else df


def _fix_shared(spark: SparkSession, name: str) -> DataFrame:
    """Read an sf-INDEPENDENT fixture table (amounts, trustlines, richlist,
    categories — only ``pages`` scales with sf) from the sf0.01 dir, the
    exact file every oracle SQL string hard-codes. Keeps the Spark side and
    the DuckDB oracle reading identical bytes at any bench/test sf, so a
    future sf-dependent fixture change cannot silently diverge
    (ADVICE r02: trustline oracle path)."""
    d = ensure_crawl_fixtures("sf0.01")
    return spark.read.parquet(os.path.join(d, f"{name}.parquet"))


_CRAWL_CACHE: dict[str, SnapshotCatalog] = {}


def _crawl_catalog(spark: SparkSession, sf_dir: str, n_rounds: int = 3) -> SnapshotCatalog:
    """Memoized crawl run per scale (resume semantics make this idempotent:
    an existing catalog with ≥ n_rounds committed is reused as-is)."""
    sf = _crawl_sf(sf_dir)
    if sf in _CRAWL_CACHE:
        cat = _CRAWL_CACHE[sf]
    else:
        d = ensure_crawl_fixtures(sf)
        cat = SnapshotCatalog(os.path.join(REPO, "data", "runs", sf))
        _CRAWL_CACHE[sf] = cat
    last = cat.last_round()
    if last is None or last < n_rounds:
        d = ensure_crawl_fixtures(sf)
        pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
        robots = spark.read.parquet(os.path.join(d, "robots.parquet"))
        seeds = spark.read.parquet(os.path.join(d, "seeds.parquet"))
        CrawlRun(spark, cat, pages, robots).run(n_rounds, seeds)
    return cat


# oracle-side fixture paths (driver correctness runs at sf0.01)
RICH = f"read_parquet('{REPO}/data/crawl_sf0.01/richlist.parquet')"
CATS = f"read_parquet('{REPO}/data/crawl_sf0.01/categories.parquet')"
PAGES = f"read_parquet('{REPO}/data/crawl_sf0.01/pages.parquet')"
SEEDS = f"read_parquet('{REPO}/data/crawl_sf0.01/seeds.parquet')"
ROBOTS = f"read_parquet('{REPO}/data/crawl_sf0.01/robots.parquet')"
G_ROUND1 = f"read_parquet('{REPO}/tests/goldens/crawl_round1_sf0.01.parquet')"
G_SEEN3 = f"read_parquet('{REPO}/tests/goldens/seen_urls_after3_sf0.01.parquet')"

#: shared SQL fragment: the hourly summary series over the richlist fixture
SUMMARY_SQL = f"""
    SELECT {canonical_label_sql('label')} AS grouped_label,
           snapshot_date AS created_at,
           COUNT(*) AS "count",
           SUM(CAST(balance_xrp AS DECIMAL(20,6))) AS total_balance,
           SUM(CAST(escrow_xrp AS DECIMAL(20,6))) AS total_escrow,
           SUM(CAST(balance_xrp AS DECIMAL(20,6))
               + CAST(escrow_xrp AS DECIMAL(20,6))) AS total_xrp
    FROM {RICH}
    GROUP BY 1, 2
"""


def _dbl(df: DataFrame) -> DataFrame:
    """Final-projection discipline: exact DECIMAL math internally, DOUBLE
    out. Cast every decimal column to double as the LAST step — both engines
    perform the correctly-rounded decimal→IEEE754 conversion, so equal
    decimals yield bit-equal doubles and the driver's value hash agrees."""
    from pyspark.sql.types import DecimalType

    for f in df.schema.fields:
        if isinstance(f.dataType, DecimalType):
            df = df.withColumn(f.name, F.col(f.name).cast("double"))
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """One crawl round end-to-end on sf0.001 (SURVEY.md §7.5): frontier →
    anti-join seen → robots → politeness → fetch → Arrow parse → rank."""
    cat = _crawl_catalog(spark, "/root/testdata/sf0.001", n_rounds=1)
    return cat.read_round(spark, "results", 1).select(
        "rank", "url", "host", "depth", "fetch_ok", "n_links", "text"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_a2_lineitem_agg(spark, sf):
    return _dbl(
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(
                _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_j4_region_rollup(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return _dbl(
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("total_price"),
        )
    )


def _q_j2_customers_without_orders(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def _q_j1_left_merge_coalesce(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation").filter(F.col("n_nationkey") < 10)
    return c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left").select(
        "c_custkey", F.coalesce("n_name", F.lit("Unknown")).alias("nation_name")
    )


def _q_w1_order_rank(spark, sf):
    """W1 via the engine's two-phase distributed rank (operators/frontier.py
    global_rank) — NOT the single-partition ``row_number() OVER (ORDER BY)``
    anti-pattern. Result pinned equal in tests/test_frontier.py."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import global_rank

    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return global_rank(
        o,
        rank_col="rnk",
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )


def _q_w3_latest_event_per_user(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


def _q_w4_percent_of_total(spark, sf):
    """A1/W4 grand total as an aggregate + broadcast crossJoin — an empty
    ``Window.partitionBy()`` would move ALL rows to one partition."""
    c = _t(spark, sf, "customer")
    total = c.agg(F.sum(_dec("c_acctbal")).alias("_total"))
    return c.crossJoin(F.broadcast(total)).select(
        "c_custkey",
        F.round(
            F.col("c_acctbal") / F.col("_total").cast("double") * 100, 6
        ).alias("pct_of_total"),
    )


def _q_p6_time_range(spark, sf):
    e = _t(spark, sf, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    return _dbl(
        e.join(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 24 HOURS"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).alias("total_value"))
    )


def _q_j5_asof_user_value(spark, sf):
    e = _t(spark, sf, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    cutoff = e.join(F.broadcast(mx)).filter(
        F.col("ts") <= F.col("mx") - F.expr("INTERVAL 24 HOURS")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        cutoff.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )


def _q_j6_banded_asof(spark, sf):
    e = _t(spark, sf, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    band = e.join(F.broadcast(mx)).filter(
        (F.col("ts") > F.col("mx") - F.expr("INTERVAL 49 HOURS"))
        & (F.col("ts") <= F.col("mx") - F.expr("INTERVAL 47 HOURS"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        band.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )


def _q_j7_pivot(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def _q_o5_unpivot(spark, sf):
    wide = _q_j7_pivot(spark, sf)
    stack_expr = ", ".join(f"'{t}', {t}" for t in EVENT_TYPES)
    return (
        wide.selectExpr(
            "user_id", f"stack({len(EVENT_TYPES)}, {stack_expr}) as (event_type, n)"
        )
        .filter(F.col("n") > 0)
    )


def _q_o3_top5_orders(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(5)
        .select("o_orderkey", "o_totalprice")
    )


def _q_a4_two_level_rollup(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    nation_level = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(_dec("c_acctbal")).alias("bal"), F.count("*").alias("cnt"))
    )
    return nation_level.groupBy("r_name").agg(
        F.sum("bal").cast("double").alias("total_bal"),
        F.sum("cnt").alias("n_customers"),
    )


def _q_a5_max_per_group(spark, sf):
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_order"))
    )


def _q_a8_distinct(spark, sf):
    return _t(spark, sf, "orders").select("o_orderstatus", "o_orderpriority").distinct()


def _q_f10_hourly_tumbling(spark, sf):
    e = _t(spark, sf, "events")
    return _dbl(
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).alias("total_value"))
    )


def _q_t5_lag_change(spark, sf):
    hourly = (
        _t(spark, sf, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.sum(_dec("value")).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    prev = F.coalesce(F.lag("total").over(w), F.col("total"))
    totd, prevd = F.col("total").cast("double"), prev.cast("double")
    return hourly.select(
        "event_type",
        "hour",
        F.col("total").cast("double").alias("total"),
        (F.col("total") - prev).cast("double").alias("change"),
        F.round(
            F.when(prevd == 0, 0.0).otherwise((totd - prevd) / prevd * 100), 6
        ).alias("pct_change"),
    )


def _q_p10_json_projection(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id", F.from_json("props", "k INT")["k"].alias("k")
    )


# -- richlist job chain -------------------------------------------------------


def _q_summary_latest(spark, sf):
    rich = _fix_shared(spark, "richlist")
    return _dbl(jobs.rich_list_summary(rich))


def _q_summary_series(spark, sf):
    rich = _fix_shared(spark, "richlist")
    return _dbl(jobs.summary_series(rich))


def _q_balance_changes(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    return _dbl(jobs.balance_changes(s))


def _q_available_changes(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    return _dbl(jobs.available_changes(s))


def _q_category_changes(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    c = _fix_shared(spark, "categories")
    return _dbl(jobs.category_changes(s, c))


def _q_country_changes(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    c = _fix_shared(spark, "categories")
    return _dbl(jobs.country_changes(s, c))


def _now_of(summary: DataFrame):
    return summary.agg(F.max("created_at")).collect()[0][0]


def _q_category_statistics(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    c = _fix_shared(spark, "categories")
    return _dbl(jobs.category_statistics(s, c, _now_of(s)))


def _q_country_statistics(spark, sf):
    """≅ update_country_statistics (function.sql:1002-1032) — the 12th and
    last procedure, previously the only one with no oracle row."""
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    c = _fix_shared(spark, "categories")
    return _dbl(jobs.country_statistics(s, c, _now_of(s)))


def _q_available_statistics(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    return _dbl(jobs.available_statistics(s, _now_of(s)))


def _q_retention_cleanup(spark, sf):
    rich = _fix_shared(spark, "richlist")
    now = rich.agg(F.max("snapshot_date")).collect()[0][0]
    kept = jobs.cleanup_old_rich_list_data(rich, now)
    return kept.groupBy("snapshot_date").agg(F.count("*").alias("n"))


def _q_significant_changes(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    ch = jobs.balance_changes(s)
    # reference thresholds are (0.1%, 500k XRP) at post-alert.py:110; the
    # fixture's totals are ~1e4-1e5 XRP per label, so scale the amount
    # threshold to keep the operator non-trivial on fixture data
    out = jobs.get_significant_changes(ch, 0.1, 1_000)
    return _dbl(out)


def _q_summary_with_changes(spark, sf):
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    ch = jobs.balance_changes(s)
    return _dbl(jobs.summary_with_changes(s, ch))


def _q_f3_drops_to_xrp(spark, sf):
    """F3 drops→XRP (loader.py:83-84): exact decimal division by 10^6."""
    from xrpl_rich_list_py_crawler_spark.functions.presentation import (
        drops_to_xrp,
    )

    o = _t(spark, sf, "orders")
    drops = (F.col("o_orderkey") * 1000 + 7).cast("long")
    return o.select(
        "o_orderkey",
        drops.alias("drops"),
        drops_to_xrp(drops).cast("double").alias("xrp"),
    )


def _q_f4_format_label(spark, sf):
    """F4 format_label (loader.py:86-93): Unknown fallback + 'name (desc)'
    concat, exercised over the fixture labels with a deterministic desc."""
    from xrpl_rich_list_py_crawler_spark.functions.udfs import format_label_col

    rich = _fix_shared(spark, "richlist")
    labels = rich.select("label").distinct()
    desc = (
        F.when(F.length("label") % 3 == 0, F.lit("svc"))
        .when(F.length("label") % 3 == 1, F.lit(""))
        .otherwise(F.lit(None).cast("string"))
    )
    return labels.select(
        "label",
        desc.alias("desc"),
        format_label_col(F.col("label"), desc).alias("formatted"),
    )


def _q_p9_enum_check(spark, sf):
    """P9 CHECK-constraint job (table.sql:84-97): per-category counts with
    the validity verdict the enum CHECK would give."""
    enum = [
        "Major Contributor", "Exchange", "Casino/Gambling",
        "Payment Service", "DeFi Protocol", "Trading Service", "NFT/Gaming",
        "Custody/Institution", "Individual", "Other",
    ]
    cats = _fix_shared(spark, "categories")
    return (
        cats.groupBy("category")
        .agg(F.count("*").alias("n"))
        .withColumn("is_valid", F.col("category").isin(enum))
    )


def _q_alert_lines(spark, sf):
    """S9/F16 alert formatting (post-alert.py:70-86): signed thousands-
    grouped amounts over the significant-changes output."""
    from xrpl_rich_list_py_crawler_spark.functions.presentation import (
        format_alert_lines,
    )

    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    ch = jobs.balance_changes(s)
    sig = jobs.get_significant_changes(ch, 0.1, 1_000)
    return _dbl(format_alert_lines(sig))


def _q_category_summary_wide(spark, sf):
    """≅ view xrpl_rich_list_category_summary_with_changes
    (table.sql:392-449): J8 latest-per-key join-back + horizon pivot + id."""
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    c = _fix_shared(spark, "categories")
    ch = jobs.category_changes(s, c)
    return _dbl(jobs.dim_summary_with_changes(ch, "category"))


def _q_country_summary_wide(spark, sf):
    """≅ view xrpl_rich_list_country_summary_with_changes
    (table.sql:452-511)."""
    s = jobs.summary_series(_fix_shared(spark, "richlist"))
    c = _fix_shared(spark, "categories")
    ch = jobs.country_changes(s, c)
    return _dbl(jobs.dim_summary_with_changes(ch, "country"))


def _q_f5_canonical_label(spark, sf):
    rich = _fix_shared(spark, "richlist")
    return (
        rich.select("label")
        .distinct()
        .select("label", canonical_label_col(F.col("label")).alias("grouped_label"))
    )


# -- crawl engine -------------------------------------------------------------


def _q_crawl_round1(spark, sf):
    cat = _crawl_catalog(spark, sf, n_rounds=1)
    return cat.read_round(spark, "results", 1).select(
        "rank", "url", "host", "depth", "fetch_ok", "n_links", "text"
    )


def _q_crawl_seen_after3(spark, sf):
    cat = _crawl_catalog(spark, sf, n_rounds=3)
    seen = cat.read_appended(spark, "seen", up_to_round=3)
    res = cat.read_appended(spark, "results", up_to_round=3).select(
        "url_hash", "url"
    )
    # denied urls are in seen but not results; reconstruct from frontier diff:
    # simpler truth — join seen hashes back to all known url mappings
    frontier_urls = None
    for r in range(0, 3):
        f = cat.read_state(spark, "frontier", r)
        if f is not None:
            u = f.select("url_hash", "url")
            frontier_urls = u if frontier_urls is None else frontier_urls.unionByName(u)
    mapping = res.unionByName(frontier_urls).dropDuplicates(["url_hash"])
    return (
        seen.select("url_hash")
        .distinct()
        .join(mapping, "url_hash")
        .select("url")
    )


def _q_url_canonicalization(spark, sf):
    pages = _fix(spark, sf, "pages")
    return pages.select(
        "url", canonicalize_url_udf("url").alias("canon_url")
    )


def _q_politeness_assignment(spark, sf):
    """T8 politeness with the r05 budget-from-delay coupling (VERDICT r04
    #8): the per-host budget is derived as floor(16 s round /
    crawl_delay_s) clamped to [1,16] — a 7 s-delay host gets 2 slots
    where a 1 s host gets 16, mirroring the reference's batch_size×sleep
    effective rate (validator.py:123,181)."""
    seeds = seeds_to_frontier(_fix(spark, sf, "seeds"))
    robots = pol.derive_budget_from_delay(_fix_shared(spark, "robots"))
    gated = pol.apply_robots(seeds, robots)
    allowed = gated.filter(~F.col("robots_denied"))
    # oracle-friendly total order: url as the intra-host tiebreak
    w = Window.partitionBy("host").orderBy("depth", "discovery_ts", "url")
    return allowed.select(
        "url",
        "host",
        F.row_number().over(w).alias("host_slot"),
        (F.row_number().over(w) <= F.col("max_fetches_per_round")).alias("selected"),
        F.round(
            (F.row_number().over(w) - 1) * F.col("crawl_delay_s"), 6
        ).alias("fetch_delay_s"),
    )


def _q_robots_denied(spark, sf):
    seeds = seeds_to_frontier(_fix(spark, sf, "seeds"))
    robots = _fix_shared(spark, "robots")
    return pol.apply_robots(seeds, robots).filter(F.col("robots_denied")).select("url")


def _q_robots_txt_parse(spark, sf):
    """robots.txt cache BUILDER (operators/politeness.py:parse_robots_txt,
    r04): raw per-host robots.txt bodies → the allow/deny + crawl-delay
    dimension apply_robots broadcasts (north_rule's "robots.txt allow/deny
    cache"). The corpus is synthesized deterministically from doc_id so
    both engines parse IDENTICAL bytes: a multi-section file (bot section
    ignored, * section honored, variable Crawl-delay), a minimal
    lowercase-directive file, a no-star-section file, and an empty file.
    Fully JVM-side (split + rlike + regexp_extract_all in codegen)."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        parse_robots_txt,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    did = F.col("doc_id")
    k7 = (did % 7 + 1).cast("int").cast("string")
    k5 = (did % 5).cast("int").cast("string")
    txt = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(
                    "User-agent: googlebot\nDisallow: /g\n\n"
                    "User-agent: *\nDisallow: /private\nDisallow: /tmp/\n"
                    "Crawl-delay: "
                ),
                k7,
                F.lit("\n"),
            ),
        )
        .when(did % 4 == 1, F.concat(F.lit("User-Agent: *\ndisallow: /a"), k5, F.lit("\n")))
        .when(did % 4 == 2, F.lit("User-agent: googlebot\nDisallow: /x\n"))
        .otherwise(F.lit(""))
    )
    raw = d.select(
        F.concat(F.lit("h"), did.cast("string"), F.lit(".example.com")).alias("host"),
        txt.alias("robots_txt"),
    )
    dim = parse_robots_txt(raw)
    dis = F.col("disallow_prefixes")
    return dim.select(
        "host",
        "has_rules",
        F.size(dis).alias("n_disallow"),
        F.get(dis, 0).alias("first_disallow"),
        "crawl_delay_s",
        F.coalesce(
            F.exists(dis, lambda p: F.lit("/private/x").startswith(p)), F.lit(False)
        ).alias("deny_private"),
        F.coalesce(
            F.exists(dis, lambda p: F.lit("/a3/page").startswith(p)), F.lit(False)
        ).alias("deny_a3"),
    )


def _q_pii_redaction(spark, sf):
    """Training-data PII hygiene (operators/textstats.py:pii_counts, r04):
    email/IPv4/phone detection + redaction, all chained regexp_replace /
    regexp_count in whole-stage codegen. PII is injected deterministically
    from doc_id (the fixture corpus is PII-free word salad) so both
    engines scrub IDENTICAL bytes; counts are taken over the same
    intermediates the redaction chain sees, so they provably agree with
    the replacements."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    pii_text = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.col("text"), F.lit(" call +1 (555) 010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" or visit 10.0."), (did % 256).cast("string"),
                F.lit(".7"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return ts.pii_counts(d.select("doc_id", pii_text.alias("text")))


def _q_domain_cap(spark, sf):
    """Domain balancing (operators/curation.py:cap_per_key, r04): at most
    k docs per source, best-first by the n_chars quality proxy with
    doc_id tie-break — the curation-side quota against host-dominated
    training mixes. One key-partitioned shuffle; window sort is local."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import cap_per_key

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return cap_per_key(d, key_col="source", order_cols=("n_chars", "doc_id"), k=10)


def _q_unigram_quality(spark, sf):
    """Corpus-frequency quality scoring (operators/textstats.py:
    unigram_vocab + unigram_quality, r04): top-200 corpus vocabulary →
    broadcast join → per-doc vocab-mass and OOV ratio — the cheap
    stand-in for LM-perplexity filtering. All ratios derive from EXACT
    integer sums divided once (never float accumulation, never log), so
    Spark and DuckDB produce bit-identical doubles."""
    d = _t(spark, sf, "documents")
    return ts.unigram_quality(d, ts.unigram_vocab(d, k=200))


def _q_seq_packing(spark, sf):
    """Training-sequence packing (operators/packing.py, r05): the corpus
    laid out as one global token stream (doc_id order, +1 EOS per doc)
    and cut into 256-token training sequences — one row per (document,
    sequence it overlaps) with exact integer slice offsets. The global
    prefix sum runs the two-phase distributed plan (range shuffle +
    P-row broadcast offset dim), NEVER a single-partition window; the
    oracle's naive ``SUM() OVER (ORDER BY)`` certifies the scale plan
    computes the identical stream layout."""
    from xrpl_rich_list_py_crawler_spark.operators.packing import pack_sequences

    d = _t(spark, sf, "documents")
    return pack_sequences(d, capacity=256)


def _q_bpe_merge_pairs(spark, sf):
    """BPE tokenizer-training iteration (operators/textstats.py:
    bpe_merge_pairs, r05): top-200 adjacent character pairs by corpus
    frequency over the BPE_UNIT pre-tokens — the merge candidates of the
    first byte-pair-encoding round, computed on the distinct-unit frame
    weighted by unit counts (the classic BPE-training optimization).
    Top-k cut via orderBy().limit() → TakeOrderedAndProject."""
    d = _t(spark, sf, "documents")
    return ts.bpe_merge_pairs(d, k=200)


def _q_host_pagerank(spark, sf):
    """Host-graph PageRank (operators/graph.py, r05): derive the crawl's
    ``host_rank`` frontier-priority input from the link graph itself —
    5 iterations of integer-exact PageRank (ranks scaled by 10^12, every
    step integral ``div``), so Spark and DuckDB produce bit-identical
    scores and the result is partitioning-independent. The edge list is
    synthesized deterministically from doc_id (src = id % 57, dst =
    (id·7+3) % 60 — hosts 57-59 are dangling: in-links but no out-links,
    exercising the dangling-mass redistribution). The oracle UNROLLS all
    5 iterations as plain SQL CTEs — a full independent PageRank, not a
    golden file. Real-graph composition (JVM link extraction → edges →
    pagerank → frontier host_rank) is pinned in tests/test_graph.py."""
    from xrpl_rich_list_py_crawler_spark.operators.graph import host_pagerank

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 600)
    did = F.col("doc_id")
    edges = (
        d.select((did % 57).alias("src"), ((did * 7 + 3) % 60).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return host_pagerank(edges, n_iter=5)


def _q_sessionization(spark, sf):
    """Sessionization (operators/sessions.py, r05): split each user's
    event stream into sessions at >30-minute inactivity gaps — the
    classic gaps-and-islands window, computed per-user (never a global
    window) with the gap comparison on integer epoch-microseconds. One
    row per (user, session) with count/start/end/integer duration; no
    float aggregates (double summation is order-dependent across
    engines)."""
    from xrpl_rich_list_py_crawler_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf, "events"))


def _q_ngram_contamination(spark, sf):
    """Benchmark decontamination (operators/curation.py:
    ngram_contamination, r04): 13-token-gram overlap between the
    training split (doc_id%10 != 7) and a held-out benchmark split —
    the standard pretraining hygiene pass. Pure JVM gram explode +
    semi join; ratios from exact integer counts."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        ngram_contamination,
    )

    d = _t(spark, sf, "documents", spread=True)
    corpus = d.filter(F.col("doc_id") % 10 != 7)
    bench = d.filter(F.col("doc_id") % 10 == 7)
    return ngram_contamination(corpus, bench)


def _q_ngram_contamination_hashed(spark, sf):
    """The web-scale decontamination variant (r05, VERDICT r04 #5): grams
    are xxhash64-keyed on both sides (8-byte join keys instead of ~90-byte
    strings) and the corpus side is bloom-prefiltered against the
    broadcast benchmark gram set before the exact semi join — the URL
    seen-set machinery (operators/seen.py) reused verbatim. The oracle is
    the STRING-gram SQL twin: hashing + bloom must reproduce the exact
    string-path answer row-for-row (DuckDB has no xxhash64, which makes
    this equality the strongest available check)."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        ngram_contamination,
    )

    d = _t(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 7)
    bench = d.filter(F.col("doc_id") % 10 == 7)
    return ngram_contamination(
        corpus, bench, hashed=True, bloom_prefilter=True
    )


def _q_training_mix(spark, sf):
    """The COMPLETE per-batch training-data decision (r05): curation
    (exact + verified near-dup + token/punct gates) ∘ Gopher repetition
    gates ∘ 13-gram benchmark decontamination ∘ per-source quota, one
    verdict row per training doc (operators/curation.py:training_mix).
    Thresholds chosen so every stage measurably engages at sf0.01:
    top_token_ratio ≤ 0.12 drops the repetitive tail (fixture p90 is
    0.143), per_source_cap=10 bites on 25-doc sources. The oracle
    recomputes all four stages and the final window from scratch."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        training_mix,
    )

    d = _t(spark, sf, "documents", spread=True)
    train = d.filter(F.col("doc_id") % 10 != 7)
    bench = d.filter(F.col("doc_id") % 10 == 7)
    return training_mix(
        train, bench, per_source_cap=10, max_top_token_ratio=0.12
    )


def _q_line_dedup(spark, sf):
    """Cross-document line deduplication (r05,
    operators/curation.py:line_dedup): the CCNet/RefinedWeb boilerplate
    strike — any line occurring in >1 DISTINCT docs is removed from
    every doc, survivors reassembled in order. The fixture corpus is
    single-line word salad, so boilerplate is injected deterministically
    from doc_id: %3==0 docs carry a 2-line footer, %3==1 docs share one
    of its lines ('cookie notice' lands in 2/3 of docs, 'all rights
    reserved' in 1/3 — both struck), %3==2 docs get a doc-unique tail
    that must survive. Exercises posexplode → distinct(doc,line) →
    groupBy(line) df-count → left-anti join → ordered reassembly."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import line_dedup

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.lit("\ncookie notice\nall rights reserved"),
        )
        .when(did % 3 == 1, F.lit("\ncookie notice"))
        .otherwise(F.concat(F.lit("\nunique tail "), did.cast("string"))),
    )
    return line_dedup(d.select("doc_id", txt.alias("text")))


def _q_hash_sample(spark, sf):
    """Deterministic stratified hash-sampling (r05,
    operators/curation.py:hash_sample): u = md5(id:seed)[:8]/2^32 — a
    pure per-row codegen function, so the training-mix draw is
    reproducible across cluster sizes, restarts, and engines (unlike
    DataFrame.sample's partition-local RNG). Five explicit per-source
    mix weights + the default fallback for the other 15 sources; u is
    an exact power-of-two division, bit-identical in the oracle."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import hash_sample

    d = _t(spark, sf, "documents")
    fr = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25,
          "src4": 0.1}
    return hash_sample(
        d.select("doc_id", "source"), fr, strata_col="source",
        seed=20260817, default_fraction=0.05,
    )


def _q_substring_dedup(spark, sf):
    """Exact-substring span dedup (r05, operators/dedup.py:
    substring_dedup): Lee-et-al-2021 removal of every ≥8-token run that
    occurs more than once in the corpus — strikes repeated licence/
    boilerplate passages inside otherwise-unique docs, the sub-document
    gap doc-level dedup can't reach. Injected deterministically: %4==1
    docs share a 10-token sentence (cross-doc duplicate — struck from
    all of them), %4==3 docs carry a doc-unique 8-token phrase twice
    (WITHIN-doc occurrence counting — both copies struck). Exercises
    window explode → groupBy(gram) occurrence count → semi join →
    sequence-explode strike → gaps-and-islands span merge → ordered
    reassembly."""
    from xrpl_rich_list_py_crawler_spark.operators.dedup import (
        substring_dedup,
    )

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    phrase = F.concat(
        F.lit(" rep"), did.cast("string"),
        F.lit(" one two three four five six seven"),
    )
    txt = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 1,
            F.lit(" the quick brown fox jumps over the lazy sleeping dog"),
        )
        .when(did % 4 == 3, F.concat(phrase, phrase))
        .otherwise(F.lit("")),
    )
    return substring_dedup(
        d.select("doc_id", txt.alias("text")), min_run_tokens=8
    )


def _q_classifier_score(spark, sf):
    """Model-based quality scoring (r05, operators/textstats.py:
    hashed_bow_score): the fastText/CCNet-style hashed bag-of-words
    linear gate — md5-portable feature hashing into 4096 buckets,
    INTEGER stand-in weights (exact, order-independent sums; the one
    float step is the final sigmoid, rounded), model-as-broadcast-dim-
    table architecture (swapping in trained weights = replacing the dim
    table). Supervised complement of unigram_quality/quality_score."""
    from xrpl_rich_list_py_crawler_spark.operators.textstats import (
        hashed_bow_score,
    )

    return hashed_bow_score(_t(spark, sf, "documents"))


def _q_bigram_quality(spark, sf):
    """Bigram transition-LM quality (r05, operators/lm.py): top-500
    corpus bigram vocab (TakeOrderedAndProject cut) with pre-joined
    left-context counts -> broadcast join -> per-doc mass-weighted
    conditional transition probability times in-vocab coverage, plus
    OOV ratio — the engine's perplexity stand-in (CCNet filters on a
    Wikipedia-LM perplexity; this rises/falls with the same signal on
    exact integer sufficient statistics, divisions only at the end)."""
    from xrpl_rich_list_py_crawler_spark.operators import lm

    d = _t(spark, sf, "documents", spread=True)
    return lm.bigram_quality(d, lm.bigram_vocab(d, k=500))


def _q_dsir_weights(spark, sf):
    """DSIR importance weights (r05, operators/lm.py, Xie et al. 2023):
    hashed-feature target-vs-source mass ratio per doc, with the
    deterministic doc_id%10<2 slice as the stand-in target domain. The
    (bucket, t_cnt, s_cnt) model is a <=4096-row broadcast dim table;
    scoring is explode -> broadcast join -> one groupBy(doc)."""
    from xrpl_rich_list_py_crawler_spark.operators import lm

    d = _t(spark, sf, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 10 < 2).alias("is_target")
    )
    return lm.dsir_weights(d)


def _q_blocklist_filter(spark, sf):
    """UT1-style domain-blocklist strike (r05, operators/curation.py:
    blocklist_filter): host → dot-suffix explode (bounded fan-out) →
    equi join against the broadcast domain dim → per-doc verdict. Hosts
    synthesized from id arithmetic (documents carries no hostname);
    the list hits exact, subdomain, and parent-domain branches."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        blocklist_filter,
    )

    base = F.element_at(
        F.array(
            F.lit("news.example.com"),
            F.lit("shop.example.com"),
            F.lit("ads.tracker.net"),
            F.lit("cdn.media.org"),
            F.lit("blog.example.com"),
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("w"), (F.col("doc_id") % 7).cast("string"), F.lit("."), base
        ).alias("host"),
    )
    bl = spark.createDataFrame(
        [("ads.tracker.net",), ("shop.example.com",), ("media.org",)],
        "domain string",
    )
    return blocklist_filter(docs, bl)


def _q_image_ahash_neardups(spark, sf):
    """Image near-dup via 64-bit average hash (r05, operators/
    multimodal.py): REAL patterned-PPM bytes built per doc_id →
    pixel decode → integer-exact ahash (strict cell*64 > Σ threshold,
    32-bit halves so bit 63 never signs) → SimHash-style 8-byte-chunk
    pigeonhole Hamming join (exact recall for hamming ≤ 7). The oracle
    recomputes the hash closed-form from the same id arithmetic and
    brute-forces all pairs — byte build, pixel parse, hash, and
    blocking all checked end-to-end."""
    from xrpl_rich_list_py_crawler_spark.operators.multimodal import (
        ahash_near_dups, image_ahash, synth_patterned_fixture,
    )

    ids = _t(spark, sf, "documents").select("doc_id")
    sigs = image_ahash(synth_patterned_fixture(ids))
    return ahash_near_dups(sigs, max_hamming=7)


def _q_repetition_stats(spark, sf):
    """Gopher/C4-family repetition quality gates (r05): duplicate-line
    fraction + top-token and top-bigram mass per document
    (operators/textstats.py:repetition_stats) — the standard webtext
    boilerplate/keyboard-mash filters. Repetition is injected
    deterministically from doc_id (the fixture corpus is word salad with
    little natural repetition): %4==1 docs get a 5×-repeated token run,
    %4==2 docs get a 3×-duplicated footer line, so every ratio branch
    measurably engages. Explode → (doc,term) → (doc) two-level groupBy;
    exact-integer ratios."""
    d = _t(spark, sf, "documents", spread=True)
    did = F.col("doc_id")
    rep_text = (
        F.when(
            did % 4 == 1,
            F.concat(F.col("text"), F.lit(" spam spam spam spam spam")),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.col("text"),
                F.lit("\nfooter line\nfooter line\nfooter line"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return ts.repetition_stats(d.select("doc_id", rep_text.alias("text")))


def _q_sitemap_parse(spark, sf):
    """Sitemap ingestion (operators/sitemap.py:parse_sitemap, r04): raw
    sitemap.xml bodies → one seed row per <url> entry with lastmod
    recency, plus the nested-index child count. XML is synthesized
    deterministically from doc_id (urlset with datetime+date lastmods and
    whitespace-padded locs; a pure index file, which yields no url rows;
    a mixed file with an empty <loc> that must drop). All JVM: lazy
    (?s)-block regexp_extract_all + transform lambdas, ANSI-safe
    try_to_timestamp."""
    from xrpl_rich_list_py_crawler_spark.operators.sitemap import parse_sitemap

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 45)
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), did.cast("string"), F.lit(".example.com"))
    base = F.concat(F.lit("https://"), host)
    xml = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<urlset><url><loc>"), base,
                F.lit("/a</loc><lastmod>2026-01-0"),
                (did % 9 + 1).cast("string"),
                F.lit("T03:04:0"), (did % 10).cast("string"),
                F.lit("Z</lastmod></url><url>\n  <loc> "), base,
                F.lit("/b </loc></url></urlset>"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>"), base,
                F.lit("/s1.xml</loc></sitemap><sitemap><loc>"), base,
                F.lit("/s2.xml</loc></sitemap></sitemapindex>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<urlset><url><loc>"), base,
                F.lit("/only</loc></url><url><loc></loc></url>"
                      "<sitemap><loc>"), base,
                F.lit("/extra.xml</loc></sitemap></urlset>"),
            )
        )
    )
    return parse_sitemap(d.select(host.alias("host"), xml.alias("sitemap_xml")))


def _q_trustline_rich_list(spark, sf):
    """The RLUSD trustline chain end-to-end (scanner-rlusd.py:24-96):
    S4 struct-subfield projection from the JSON payload, P2 currency
    equality, P3 abs-positive filter, W1 rank by balance (two-phase
    global_rank), A1/W4 percent-of-supply — the variant-columns path the
    round-1 coverage map absorbed into generic operators without a
    demonstrating query (VERDICT.md What's-missing #4)."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import global_rank
    from xrpl_rich_list_py_crawler_spark.sources.fixtures import RLUSD_HEX

    schema = (
        "specification struct<currency:string,counterparty:string>, "
        "state struct<balance:string>, "
        "counterparty struct<`limit`:string,ripplingDisabled:boolean>"
    )
    tl = _fix_shared(spark, "trustlines")
    lines = (
        tl.select(F.from_json("payload", schema).alias("j"))
        .filter(F.col("j.specification.currency") == RLUSD_HEX)
        .select(
            F.col("j.specification.counterparty").alias("address"),
            F.abs(F.col("j.state.balance").cast("double")).alias("balance_rlusd"),
            F.col("j.counterparty.limit").alias("trust_limit"),
            F.coalesce(
                F.col("j.counterparty.ripplingDisabled"), F.lit(False)
            ).alias("rippling_disabled"),
        )
        .filter(F.col("balance_rlusd") > 0)
    )
    total = lines.agg(
        F.sum(_dec("balance_rlusd")).cast("double").alias("_t")
    )
    ranked = global_rank(
        lines,
        rank_col="rank",
        order_by=[F.col("balance_rlusd").desc(), F.col("address").asc()],
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "address",
        "balance_rlusd",
        "trust_limit",
        F.round(F.col("balance_rlusd") / F.col("_t") * 100, 6).alias(
            "percentage"
        ),
        "rippling_disabled",
    )


# -- documents / embeddings (training-data ops) -------------------------------


def _q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return dd.dedup_exact(d).select("doc_id", F.md5("text").alias("content_md5"))


def _q_text_quality(spark, sf):
    return ts.quality_score(_t(spark, sf, "documents"))


def _q_token_counts_by_lang(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select("lang", ts.token_count_col(F.col("text")).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").alias("total_tokens"), F.count("*").alias("n_docs"))
    )


def _q_bpe_token_counts(spark, sf):
    """BPE-ish pre-tokenization unit counts per doc + per-lang rollup
    (operators/textstats.py:bpe_token_count_col): the token-budgeting
    counter a training pipeline runs next to the whitespace proxy. The
    alternation regex is Java-regex/RE2-portable, so DuckDB's
    regexp_extract_all reproduces counts exactly."""
    d = _t(spark, sf, "documents")
    per_doc = d.select(
        "lang",
        ts.bpe_token_count_col(F.col("text")).alias("n_bpe"),
        ts.token_count_col(F.col("text")).alias("n_ws"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_ws").alias("total_ws_tokens"),
        F.round(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("bpe_per_ws"),
        F.count("*").alias("n_docs"),
    )


def _q_doc_fingerprints(spark, sf):
    d = _t(spark, sf, "documents")
    return ts.fingerprint(d).select("doc_id", "md5", "tokenset_md5")


def _q_minhash_neardups(spark, sf):
    """MinHash+LSH candidates → EXACT char-9-gram Jaccard verification.

    Oracle-checkable by construction: the emitted pairs are exactly those
    with true char-gram Jaccard ≥ 0.5 (the fixture distribution is bimodal —
    noise < 0.15, dups > 0.9 — and LSH recall at 16 bands × 4 rows is
    1-(1-j⁴)¹⁶ ≈ 1-4e-8 at j=0.9; verified exhaustively at sf0.001/0.01)."""
    d = _t(spark, sf, "documents", spread=True)
    pairs = dd.minhash_lsh_candidates(d, bands=16, n_hashes=64)
    return (
        dd.chargram_jaccard_pairs(d, pairs, n=9, stride=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _q_minhash_incremental(spark, sf):
    """Incremental near-dup: NEW docs (doc_id % 10 >= 8, the day's
    fetch) LSH-banded against the REFERENCE corpus (doc_id % 10 < 8)
    with `minhash_vs_reference` — neither side self-pairs, the reference
    participates only via its (id, band, bucket) index — then EXACT
    char-9-gram Jaccard verification. Oracle-checkable the same way as
    minhash_neardups: emitted pairs are exactly the cross-split pairs
    with true Jaccard ≥ 0.5 (LSH recall ≈ 1-4e-8 at j=0.9 with 16
    bands × 4 rows on the bimodal fixture)."""
    d = _t(spark, sf, "documents", spread=True)
    new_side = d.filter(F.col("doc_id") % 10 >= 8)
    ref_side = d.filter(F.col("doc_id") % 10 < 8)
    cand = dd.minhash_vs_reference(
        new_side, ref_side, bands=16, n_hashes=64
    ).select(
        F.col("new_id").alias("id_a"), F.col("ref_id").alias("id_b")
    )
    return (
        dd.chargram_jaccard_pairs(d, cand, n=9, stride=3)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("ref_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def _q_kn_doc_quality(spark, sf):
    """Apply the trained Kneser-Ney LM to score documents (final
    session, lm.kn_doc_scores) — the CCNet step the model dim exists
    for. min_count=10 leaves real OOV bigrams (coverage < 1),
    rare_tau=0.02 fires the rare-transition counter, and the
    0.95/0.1 gates reject a measurable slice at sf0.01 — every branch
    engages on the fixture. Order-independent reductions only (COUNT /
    MIN), so the oracle recomputes the identical doubles."""
    from xrpl_rich_list_py_crawler_spark.operators.lm import (
        kn_doc_scores,
        kneser_ney_bigram,
    )

    d = _t(spark, sf, "documents", spread=True)
    lm = kneser_ney_bigram(d, min_count=10)
    return kn_doc_scores(
        d, lm, rare_tau=0.02, min_coverage=0.95, max_rare_ratio=0.1
    )


def _q_script_profile(spark, sf):
    """Unicode script composition (final session, ts.script_profile) over
    documents augmented with deterministic non-Latin tails (§8/§9
    in-query synthesis pattern — the fixture corpus is ASCII-only, so
    the tails make every counter and the dominance flip engage):
    %5==1 hiragana, %5==2 cyrillic, %5==4 katakana (short tails — ratios
    engage, latin stays dominant), %5==3 a repeated CJK run long enough
    to FLIP dominant_script to cjk. Identical literals on both engines."""
    d = _t(spark, sf, "documents")
    tail = (
        F.when(F.col("doc_id") % 5 == 1, F.lit(" これはてすとです"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" Этотексттест"))
        .when(F.col("doc_id") % 5 == 3, F.repeat(F.lit("中文文本"), 80))
        .when(F.col("doc_id") % 5 == 4, F.lit(" テストカタカナ文字"))
        .otherwise(F.lit(""))
    )
    aug = d.select("doc_id", F.concat(F.col("text"), tail).alias("text"))
    return ts.script_profile(aug)


def _q_chunk_retrieval(spark, sf):
    """End-to-end RAG retrieval (chunk → embed → top-k), all exact:
    chunk_documents windows → hashed-BOW count vectors
    (similarity.hashed_bow_vector_col, md5-portable buckets, INTEGER
    counts) → bow_topk (exact long dot/norms; the single float step is
    one division per pair). Queries are the chunks of doc_id < 2. The
    Q·N brute pass is the exactness baseline; LSH/IVF remain the
    large-Q scale path."""
    from xrpl_rich_list_py_crawler_spark.operators.packing import (
        chunk_documents,
    )
    from xrpl_rich_list_py_crawler_spark.operators.similarity import (
        bow_topk, hashed_bow_vector_col,
    )

    d = _t(spark, sf, "documents")
    chunks = chunk_documents(d, chunk_tokens=64, overlap=16)
    cid = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"),
        F.col("chunk_ix").cast("string"),
    )
    vecs = chunks.select(
        "doc_id",
        cid.alias("cid"),
        hashed_bow_vector_col(F.col("chunk_text"), dim=32).alias("vec"),
    )
    queries = vecs.filter(F.col("doc_id") < 2).select(
        F.col("cid").alias("qid"), F.col("vec").alias("qvec")
    )
    return bow_topk(vecs.select("cid", "vec"), queries, k=5)


def _q_chunk_documents(spark, sf):
    """RAG-style chunking (packing.chunk_documents): 64-token windows
    with 16-token overlap — the fixture's ~100-token docs emit 1-3
    chunks each, exercising the single-chunk, overlap, and
    final-partial-window branches. Pure JVM (sequence/slice/array_join
    in codegen); the oracle mirrors with generate_series + inclusive
    list slices."""
    from xrpl_rich_list_py_crawler_spark.operators.packing import (
        chunk_documents,
    )

    d = _t(spark, sf, "documents")
    return chunk_documents(d, chunk_tokens=64, overlap=16)


def _q_phrase_blocklist(spark, sf):
    """Multi-word blocklist gate (curation.phrase_blocklist_filter):
    word-boundary phrase matching over the normalized token stream —
    the phrase half of the C4 blocklist rule (badwords_filter covers
    single words). Two fixture-dense bigrams + one never-matching
    phrase; first_phrase reports LIST order."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        phrase_blocklist_filter,
    )

    d = _t(spark, sf, "documents")
    out = phrase_blocklist_filter(
        d, ["slow merge", "table value", "zzz never here"]
    )
    return out.select("doc_id", "first_phrase", "blocked")


def _q_unigram_lm_train(spark, sf):
    """Unigram-LM (SentencePiece/Kudo-2018) tokenizer training
    (operators/unigram.py): substring seed → 2 rounds of Viterbi
    hard-EM over the distinct pre-token vocabulary → pruned piece
    table. Each round's piece table parametrizes the next round's DP,
    so there is NO DuckDB twin (rows-only driver check, the bpe_train
    stance); semantics are pinned by pytest against py_unigram_train."""
    from xrpl_rich_list_py_crawler_spark.operators.unigram import (
        unigram_lm_train,
    )

    d = _t(spark, sf, "documents")
    return unigram_lm_train(d, vocab_size=300, n_iter=2, seed_size=1500)


def _q_unigram_encode(spark, sf):
    """Corpus-scale application of the trained unigram-LM vocabulary
    (unigram.unigram_encode_counts): distinct units Viterbi-segmented
    once, joined back to the per-doc unit stream — per-doc piece
    counts. Rows-only (the vocabulary comes from the iterative
    trainer); pinned by pytest laws (spine completeness, per-unit
    bounds, twin segmentation)."""
    from xrpl_rich_list_py_crawler_spark.operators.unigram import (
        unigram_encode_counts, unigram_lm_train,
    )

    d = _t(spark, sf, "documents")
    pieces = unigram_lm_train(d, vocab_size=300, n_iter=1, seed_size=1500)
    return unigram_encode_counts(d, pieces)


def _q_badwords_filter(spark, sf):
    """C4 §2.2 word-blocklist page gate (curation.badwords_filter):
    distinct letter/digit-run tokens joined against a broadcast word
    dim — exact word-boundary semantics, never substring. The list is
    synthesized from two words dense in the fixture vocabulary plus one
    that never occurs (the no-match path for a listed word)."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        badwords_filter,
    )

    d = _t(spark, sf, "documents")
    bad = spark.createDataFrame(
        [("slow",), ("merge",), ("zzznope",)], ["word"]
    )
    out = badwords_filter(d, bad)
    return out.select("doc_id", "n_bad_types", "first_bad", "blocked")


def _q_canonical_by_quality(spark, sf):
    """Quality-keyed canonical selection (dedup.keep_best_per_component):
    the same verified near-dup components as neardup_components, but the
    kept member is the LONGEST text (n_chars desc, id tiebreak) instead
    of the smallest id — the RefinedWeb keep-the-best refinement. The
    oracle extends the recursive-CTE transitive closure with the same
    comp-partitioned window."""
    d = _t(spark, sf, "documents", spread=True)
    pairs = (
        dd.chargram_jaccard_pairs(
            d, dd.minhash_lsh_candidates(d, bands=16, n_hashes=64),
            n=9, stride=3,
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    comps = dd.connected_components(d.select("doc_id"), pairs)
    quality = d.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    out = dd.keep_best_per_component(
        comps, quality, order_by=[F.desc("n_chars")]
    )
    return out.select(
        "doc_id", F.col("comp").alias("component"), "n_chars", "is_best"
    )


def _q_pmi_phrases(spark, sf):
    """word2phrase collocation mining (lm.pmi_phrases): top-50 adjacent
    pairs by discounted corpus-normalized PMI score at min_count=5 —
    the phrase-vocabulary step before tokenizer training. Scores are
    four exactly-representable integer-valued doubles combined in a
    pinned association order, so ranking is engine-identical."""
    from xrpl_rich_list_py_crawler_spark.operators.lm import pmi_phrases

    d = _t(spark, sf, "documents")
    return pmi_phrases(d, min_count=5, k=50, delta=2)


def _q_webdataset_roundtrip(spark, sf):
    """WebDataset tar-shard sink+source round trip (sources/
    webdataset.py): documents become two-member samples ({key}.json
    metadata + {key}.txt payload) folded into 4 deterministic tar
    shards, then parsed back member-by-member. The oracle reconstructs
    every parsed field directly from documents, so the ustar framing
    (pinned mtime/uid/mode, 512-byte blocks, member order, first-dot
    key rule) must round-trip byte-exactly for the hash to match —
    the warc_roundtrip pattern applied to the dataloader-facing
    container."""
    from xrpl_rich_list_py_crawler_spark.sources.webdataset import (
        parse_tar_df, to_tar_shards,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 64)
    did = F.col("doc_id")
    shard = F.concat(
        F.lit("shard-"), (did % 4).cast("string"), F.lit(".tar")
    )
    key = F.concat(F.lit("d"), did.cast("string"))
    meta = F.concat(
        F.lit('{"doc_id": '),
        did.cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('"}'),
    )
    members = d.select(
        shard.alias("shard"),
        key.alias("key"),
        F.concat(key, F.lit(".json")).alias("member"),
        meta.cast("binary").alias("payload"),
    ).unionByName(
        d.select(
            shard.alias("shard"),
            key.alias("key"),
            F.concat(key, F.lit(".txt")).alias("member"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    parsed = parse_tar_df(to_tar_shards(members))
    return parsed.select(
        "shard",
        "key",
        "member",
        F.col("payload").cast("string").alias("payload_text"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


def _q_epoch_shuffle(spark, sf):
    """Deterministic epoch shuffle (packing.epoch_shuffle): the
    dataloader's per-epoch permutation — md5(id:epoch:seed) order,
    position assigned by the two-phase global_rank. Oracle runs the
    naive ROW_NUMBER window over the same key — certifying the scale
    plan computes the identical permutation (the seq_packing/W1
    pattern)."""
    from xrpl_rich_list_py_crawler_spark.operators.packing import (
        epoch_shuffle,
    )

    d = _t(spark, sf, "documents").select(F.col("doc_id").alias("seq_id"))
    return epoch_shuffle(d, epoch=1, seed=20260818)


def _q_temperature_sample(spark, sf):
    """Temperature-scaled (α=1/2) mixture sampling (curation.
    temperature_sample, XLM-R/mT5 balancing): target shares ∝
    sqrt(domain token mass) via EXACT integer sqrt + scaled div, so the
    smallest source binds at rate 1 and head sources downsample — the
    inverse emphasis of raw-proportional sampling. Float steps (two
    divisions + the min) mirror the SQL twin's association order
    exactly."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        temperature_sample,
    )

    d = (
        _t(spark, sf, "documents")
        .select("doc_id", "source", "text")
        .withColumn("n_tokens", ts.token_count_col(F.col("text")))
        .drop("text")
    )
    out = temperature_sample(d, seed=20260818)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("w", 6).alias("w"),
        F.round("rate", 6).alias("rate"),
        "u",
        "sampled",
    )


def _q_lang_segments(spark, sf):
    """Per-paragraph language segmentation (textstats.lang_segments):
    the fixture corpus is single-paragraph English, so mixed-language
    multi-paragraph pages are synthesized in-query (the script_profile
    §8/§9 pattern): %3==1 gains a German paragraph (DE marker tokens
    beat the EN stopword count), %3==2 a CJK paragraph (>10% CJK chars
    → 'ja'), %3==0 stays single-paragraph — every lang branch and the
    multi-paragraph indexing engage. Identical literals on both
    engines."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    tail = (
        F.when(did % 3 == 1, F.lit("\nder die und das ist nicht ein"))
        .when(did % 3 == 2, F.lit("\n中文文本中文文本中文"))
        .otherwise(F.lit(""))
    )
    aug = d.select("doc_id", F.concat(F.col("text"), tail).alias("text"))
    return ts.lang_segments(aug)


def _q_host_hits(spark, sf):
    """HITS hubs/authorities (operators/graph.py host_hits) over the
    same deterministic doc_id-derived link graph as host_pagerank
    (hosts 57-59: in-links only → hub 0; every step integral with the
    unit-divide normalization, so scores are bit-identical across
    engines and partitionings). The oracle UNROLLS all 4 iterations —
    8 half-steps — as plain SQL CTEs: an independent DuckDB HITS, not
    a golden file."""
    from xrpl_rich_list_py_crawler_spark.operators.graph import host_hits

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 600)
    did = F.col("doc_id")
    edges = (
        d.select((did % 57).alias("src"), ((did * 7 + 3) % 60).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return host_hits(edges, n_iter=4)


def _q_ccnet_buckets(spark, sf):
    """CCNet §4.1 head/middle/tail corpus split (lm.ccnet_buckets):
    docs ordered best-first under the trained KN LM, corpus cut into
    three equal CHARACTER-mass buckets via the two-phase global prefix
    sum. Ordering keys are exact integers (scaled div of the rare and
    coverage ratios — never the rounded doubles, whose last-ulp
    rounding could differ between engines and silently reorder the
    stream). Oracle runs the naive SUM() OVER window — certifying the
    scale plan computes the identical layout (the seq_packing
    pattern)."""
    from xrpl_rich_list_py_crawler_spark.operators.lm import (
        ccnet_buckets,
        kn_doc_scores,
        kneser_ney_bigram,
    )

    d = _t(spark, sf, "documents", spread=True)
    lm = kneser_ney_bigram(d, min_count=10)
    kn = kn_doc_scores(
        d, lm, rare_tau=0.02, min_coverage=0.95, max_rare_ratio=0.1
    )
    sized = kn.join(
        d.select("doc_id", F.length("text").cast("long").alias("n_chars")),
        "doc_id",
    )
    # integer quality keys: scaled-div rational ordering (10^9 — safe
    # headroom under int64 even for 10^9-bigram documents, both engines)
    scored = sized.select(
        "doc_id",
        "n_chars",
        F.expr(
            "CASE WHEN n_modeled > 0 THEN (n_rare * 1000000000) div n_modeled"
            " ELSE 1000000000 END"
        ).alias("qk_rare"),
        F.expr(
            "CASE WHEN n_bigrams > 0 THEN (n_modeled * 1000000000) div n_bigrams"
            " ELSE 0 END"
        ).alias("qk_cov"),
    )
    return ccnet_buckets(
        scored,
        [F.asc("qk_rare"), F.desc("qk_cov"), F.asc("doc_id")],
        "n_chars",
    )


def _q_kmeans_embeddings(spark, sf):
    """Distributed Lloyd's k-means over the embeddings table
    (operators/kmeans.py) — the offline centroid trainer similarity.py's
    IVF docstring promises ("trains centroids offline"). k=8, 3 Lloyd
    iterations, integer-exact quantized arithmetic, so per-vector final
    assignments (vec_id, cell, dist2) are bit-identical to the oracle's
    fully-unrolled CTE re-derivation (kmeans_oracle_sql)."""
    from xrpl_rich_list_py_crawler_spark.operators.kmeans import kmeans_train

    emb = _t(spark, sf, "embeddings")
    assigned, _cents = kmeans_train(emb, k=8, n_iter=3)
    return assigned


def _q_neardup_components(spark, sf):
    """Keep-one-per-component dedup verdicts: verified minhash near-dup
    pairs (the minhash_neardups truth set) → iterative min-label
    connected components (operators/dedup.py:connected_components) →
    (doc, component=min member id, is_canonical). The oracle recomputes
    the same components with a recursive CTE over the exact char-gram
    pair set — certifying the distributed label propagation against
    closed-form transitive closure."""
    d = _t(spark, sf, "documents", spread=True)
    pairs = (
        dd.chargram_jaccard_pairs(
            d, dd.minhash_lsh_candidates(d, bands=16, n_hashes=64),
            n=9, stride=3,
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    return dd.connected_components(d.select("doc_id"), pairs).select(
        "doc_id", F.col("comp").alias("component"), "is_canonical"
    )


def _q_simhash_neardups(spark, sf):
    """SimHash chunk-blocked candidates (hamming ≤ 7 via 8-chunk pigeonhole)
    → the same exact char-9-gram verification as minhash_neardups: a second,
    independent candidate engine certified against the same exact truth
    (truth pairs measure hamming ≤ 5 on the fixtures; 7 is the guarantee
    bound the 8-chunk blocking covers exhaustively)."""
    d = _t(spark, sf, "documents")
    pairs = dd.simhash_near_dups(d, max_hamming=7).select("id_a", "id_b")
    return (
        dd.chargram_jaccard_pairs(d, pairs, n=9, stride=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _q_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", ts.lang_id_col(F.col("text")).alias("lang_pred"))


def _q_ann_bruteforce(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = sim.brute_force_topk(emb, q, k=5)
    return out.select(
        "q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _q_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = sim.lsh_topk(emb, q, dim=64, k=5, n_planes=6)
    return out.select(
        "q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _q_ann_ivf(spark, sf):
    """IVF ANN (fixed coarse quantizer; assign → probe top-2 cells → rank).
    Fully oracle-checkable: centroid literals evaluate identically in SQL."""
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = sim.ivf_topk(emb, q, dim=64, k=5, n_cells=16, nprobe=2)
    return out.select(
        "q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _q_embedding_neardups(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # fixture embeddings are random — 0.3 is the "near-dup" band that
    # actually exists in the data (max intra-label cosine ≈ 0.475)
    return sim.cosine_near_dup_pairs(
        emb, threshold=0.3, block_col="label"
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_f1_parse_amounts(spark, sf):
    """F1/F2 (scraper.py:64-78) as an oracle-checked batch: strip XRP/','/%
    and coerce, errors/''/'-' -> 0.0."""
    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        parse_percentage_udf,
        parse_xrp_amount_udf,
    )

    cells = _fix_shared(spark, "amounts")
    return cells.select(
        "cell_id",
        parse_xrp_amount_udf("amount_text").alias("amount"),
        parse_percentage_udf("pct_text").alias("pct"),
    )


def _q_f11_interval_shift(spark, sf):
    """F11 interval arithmetic (function.sql:161-163): the banded lookback
    bounds for each event timestamp."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        (F.col("ts") - F.expr("INTERVAL 70 MINUTES")).alias("band_lo"),
        (F.col("ts") - F.expr("INTERVAL 45 MINUTES")).alias("band_hi"),
        (F.col("ts") + F.expr("INTERVAL 3 HOURS")).alias("plus_3h"),
    )


def _q_w2_summary_view_id(spark, sf):
    """W2 (table.sql:446-449): ROW_NUMBER() OVER (ORDER BY total_xrp DESC)
    as a synthetic view id."""
    s_ = jobs.rich_list_summary(_fix_shared(spark, "richlist"))
    w = Window.orderBy(F.col("total_xrp").desc(), F.col("grouped_label").asc())
    return s_.select(
        "grouped_label", F.col("total_xrp").cast("double").alias("total_xrp")
    ).withColumn("id", F.row_number().over(w))


def _q_token_jaccard_pairs(spark, sf):
    """EXACT token-set Jaccard self-join via prefix filtering (SSJoin) —
    the round-1 all-pairs-within-source wrapper is gone. The prefix-filter
    theorem gives a MATHEMATICAL 100% recall guarantee, so the all-pairs
    SQL oracle matches by construction, while the Spark plan only ever
    pairs docs sharing a rare prefix token (linear-ish shuffles)."""
    d = _t(spark, sf, "documents")
    return dd.jaccard_similarity_join(d, threshold=0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_embedding_neardups_lsh(spark, sf):
    """Embedding near-dups blocked by LSH bucket instead of a data label —
    the principled 10^9-vector shape (block = hyperplane sign pattern, the
    corpus is bucketable once). Exactly oracle-able because the oracle
    computes the SAME literal-plane buckets and the same blocked-join
    semantics."""
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    bucketed = emb.withColumn(
        "_bkt", sim.bucket_col(F.col("embedding"), _ANN_PLANES)
    )
    return sim.cosine_near_dup_pairs(
        bucketed, threshold=0.2, block_col="_bkt"
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_robots_wildcard_gate(spark, sf):
    """REP wildcard/longest-match robots gating (late r05,
    operators/politeness.py:robots_rule_regex + robots_wildcard_allowed):
    closes the r04 'wildcards treated literally' simplification as an
    opt-in. Bodies per host by doc_id%4 — a *-and-$ Disallow with a plain
    Allow, an Allow-overrides-Disallow pair, a root Disallow with the
    '/$' root-exception, and an empty file; probe path per host by
    doc_id%6 so every precedence branch (longest wins, allow tie-break,
    anchor, no-rules) fires across the fleet. Both engines build the
    IDENTICAL pattern→regex strings."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        parse_robots_txt,
        robots_wildcard_allowed,
    )

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 48)
        .select("doc_id")
    )
    did = F.col("doc_id")
    body = (
        F.when(
            did % 4 == 0,
            F.lit("User-agent: *\nDisallow: /p*/x$\nAllow: /public\n"),
        )
        .when(
            did % 4 == 1,
            F.lit("User-agent: *\nDisallow: /a\nAllow: /a/open*\n"),
        )
        .when(
            did % 4 == 2,
            F.lit("User-agent: *\nDisallow: /\nAllow: /$\n"),
        )
        .otherwise(F.lit(""))
    )
    raw = d.select(
        F.concat(F.lit("h"), did.cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
        body.alias("robots_txt"),
    )
    dim = parse_robots_txt(raw, collect_allow=True)
    hid = F.regexp_extract(F.col("host"), r"h([0-9]+)\.", 1).cast("bigint")
    paths = ["/pA/q/x", "/public/z", "/a/open/1", "/a/closed", "/", "/idx"]
    path = F.element_at(
        F.array(*[F.lit(p) for p in paths]), (hid % 6 + 1).cast("int")
    )
    return dim.select(
        "host",
        path.alias("path"),
        "has_rules",
        F.size("allow_prefixes").alias("n_allow"),
        F.size("disallow_prefixes").alias("n_disallow"),
        robots_wildcard_allowed(
            path, F.col("allow_prefixes"), F.col("disallow_prefixes")
        ).alias("allowed"),
    )


def _q_recrawl_schedule(spark, sf):
    """Adaptive recrawl scheduling (late r05, operators/frontier.py:
    recrawl_schedule): events replayed as a fetch ledger — user_id as the
    URL key, floor(value/25) as the content fingerprint (coarse enough
    that unchanged runs actually occur) — then per-key exponential
    backoff with integer-exact bit-shift intervals. ``due`` compares
    against an injected literal 'now' (F12 determinism)."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        recrawl_schedule,
    )

    e = _t(spark, sf, "events")
    hist = e.select(
        F.col("user_id").alias("url_key"),
        F.col("ts").alias("fetch_ts"),
        F.floor(F.col("value") / F.lit(25.0)).alias("content_hash"),
        "event_id",
    )
    out = recrawl_schedule(hist, key_col="url_key", id_col="event_id")
    return out.withColumn(
        "due",
        F.col("next_fetch_ts")
        <= F.lit("2024-03-01 00:00:00").cast("timestamp"),
    )


def _q_c4_line_clean(spark, sf):
    """C4-style page cleaning (late r05, operators/curation.py:c4_clean —
    Raffel et al. 2020 §2.2): line rules (terminal punctuation incl. the
    closing curly quote, ≥3 words on the portable whitespace class, no
    'javascript') and page rules (≥5 sentence terminators in the cleaned
    text; raw text free of 'lorem ipsum' and '{'). Fixture: each
    document's text gets two appended lines by doc_id arithmetic so every
    rule branch fires across the fleet — a 2-word line, a javascript
    line, an unterminated line, a curly-quote ending, a '{' page-kill, a
    'Lorem Ipsum' page-kill — synthesized identically in both engines
    (FIXTURES.md contract)."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import c4_clean

    d = _t(spark, sf, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    extra1 = (
        F.when(did % 4 == 0, F.lit("Tiny line."))
        .when(did % 4 == 1, F.lit("Enable javascript to continue please."))
        .when(did % 4 == 2, F.lit("no punctuation ending line"))
        .otherwise(F.lit("A quoted closing line”"))
    )
    extra2 = (
        F.when(did % 5 == 0, F.lit("if (x) { return; }"))
        .when(did % 5 == 1, F.lit("Lorem Ipsum filler text here."))
        .otherwise(F.lit("This closing sentence is long enough."))
    )
    synth = d.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), extra1, extra2).alias("text"),
    )
    return c4_clean(synth)


def _q_warc_roundtrip(spark, sf):
    """WARC source+sink round trip (late r05, sources/warc.py): documents
    become HTTP response records (status/mime/date by doc_id arithmetic,
    payload = utf-8 text), folded into 8 WARC files by to_warc_files
    (warcinfo head record + a paired request record per response that the
    reader must skip), then parsed back by parse_warc_df — the Common
    Crawl ingestion shape, file-per-task, no shuffle on the parse side.
    The oracle reconstructs every output field directly from documents,
    so the ISO 28500 framing (header order, Content-Length octet
    arithmetic, CRLF separators, embedded HTTP message) must round-trip
    byte-exactly for the hash to match — including multi-byte utf-8
    payloads."""
    from xrpl_rich_list_py_crawler_spark.sources.warc import (
        parse_warc_df, to_warc_files,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 64)
    did = F.col("doc_id")
    responses = d.select(
        F.concat(F.lit("w"), (did % 8).cast("string"), F.lit(".warc"))
        .alias("warc_file"),
        F.concat(
            F.lit("https://w"), did.cast("string"), F.lit(".example.org/p")
        ).alias("url"),
        F.concat(
            F.lit("2024-01-0"), (did % 9 + 1).cast("string"),
            F.lit("T00:00:00Z"),
        ).alias("warc_date"),
        F.when(did % 3 == 0, F.lit(200))
        .when(did % 3 == 1, F.lit(301))
        .otherwise(F.lit(404))
        .alias("http_status"),
        F.when(did % 2 == 0, F.lit("text/html"))
        .otherwise(F.lit("text/plain"))
        .alias("mime"),
        F.col("text").cast("binary").alias("payload"),
    )
    files = to_warc_files(responses, emit_requests=True)
    parsed = parse_warc_df(
        files, file_col="warc_file", content_col="content"
    )
    return parsed.select(
        "warc_file",
        "url",
        "warc_date",
        "http_status",
        "mime",
        F.length("payload").cast("int").alias("n_bytes"),
        F.col("payload").cast("string").alias("text"),
    )


def _q_anchor_texts(spark, sf):
    """Anchor-text extraction (late r05, functions/udfs.py:
    extract_anchors_col): per doc a 3-anchor HTML page is synthesized —
    an absolute link with an id-bearing anchor, a relative link, and an
    anchor whose body is only spaces (trims to '') — extracted JVM-side
    and exploded to (doc_id, link_no, url, anchor). The oracle
    reconstructs the rows directly from the synthesis arithmetic, so the
    two-pass regex extraction (whole match → per-group re-extract) must
    be exact."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://t'), did.cast("string"),
        F.lit('.org/a">Anchor '), did.cast("string"),
        F.lit('</a> filler <a href="/rel/'), (did % 5).cast("string"),
        F.lit('">rel text '), (did % 5).cast("string"),
        F.lit('</a><a href="spacer">   </a></body></html>'),
    )
    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        extract_anchors_col,
    )

    pairs = d.select(
        "doc_id",
        F.posexplode(extract_anchors_col(html.cast("binary"))).alias(
            "link_no", "a"
        ),
    )
    return pairs.select(
        "doc_id",
        F.col("link_no").cast("int").alias("link_no"),
        F.col("a.url").alias("url"),
        F.col("a.anchor").alias("anchor"),
    )


def _q_hll_host_distinct(spark, sf):
    """Deterministic HyperLogLog (late r05, operators/sketches.py):
    distinct event_ids per synthetic host (user_id % 20) sketched at
    p=12 from engine-portable primitives — md5-hex 60-bit hash, base-2
    digit-count rho (no float log), exact-integer harmonic sum — so the
    DuckDB twin reproduces registers, state, AND estimate. int_sum is
    the exact sketch state (the hard oracle surface); est_distinct
    exercises the alpha formula and, for keys the fixture leaves sparse,
    the linear-counting branch."""
    from xrpl_rich_list_py_crawler_spark.operators.sketches import (
        hll_distinct,
    )

    e = _t(spark, sf, "events").select(
        (F.col("user_id") % 20).alias("host"), "event_id"
    )
    return hll_distinct(e, "host", "event_id", p=12).withColumnRenamed(
        "key", "host"
    )


#: count-min probe tokens: six present in the fixture vocabulary plus one
#: guaranteed-absent (exercises the implicit-zero coalesce; est may still
#: be >0 by collision — the sketch only promises an upper bound)
_CM_PROBES = ["join", "hash", "scan", "query", "window", "spark", "zz-absent"]


def _q_cm_token_counts(spark, sf):
    """Count-min frequency sketch (late r05, operators/sketches.py):
    counters (depth=4, width=2048) built over the full document token
    stream, probed for 7 fixed tokens. Engine-portable like the HLL —
    md5-hex 60-bit row hashes seeded by depth ('j:' prefix), exact
    BIGINT counter sums (order-free), ≤ depth×width rows survive the
    build shuffle at any corpus size. The oracle rebuilds counters AND
    probe lookups; est_count is min-over-depth, the CM upper bound."""
    from xrpl_rich_list_py_crawler_spark.operators.sketches import (
        cm_counters, cm_estimate,
    )
    from xrpl_rich_list_py_crawler_spark.operators.textstats import WS

    d = _t(spark, sf, "documents")
    # raw token stream with multiplicity (the sketch counts occurrences,
    # not distinct tokens), same WS tokenization as the postings builder
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), WS)).alias("token")
    ).filter(F.col("token") != "")
    counters = cm_counters(toks, "token", depth=4, width=2048)
    probes = spark.createDataFrame(
        [(t,) for t in _CM_PROBES], "token string"
    )
    est = cm_estimate(counters, probes, "token", depth=4, width=2048)
    return est.select(
        F.col("value").alias("token"), F.col("est_count").cast("bigint")
        .alias("est_count")
    )


def _q_resolve_redirects(spark, sf):
    """Redirect-chain resolution (late r05, graph.resolve_redirects):
    pointer doubling — 3 self-join rounds chase the 2^3-hop cap, never a
    hop-at-a-time loop. Ledger synthesized from documents: 3-edge chains
    u{4k}→u{4k+1}→u{4k+2}→u{4k+3} (terminal) for doc_id < 400, plus a
    10-node cycle on u400..u409 (longer than the cap → unresolved, the
    loop-guard path). Oracle = hop-at-a-time recursive CTE with the same
    cap — doubling must agree with single-stepping exactly."""
    from xrpl_rich_list_py_crawler_spark.operators.graph import (
        resolve_redirects,
    )

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    chain = d.filter((did < 400) & (did % 4 != 3)).select(
        u(did).alias("url"), u(did + 1).alias("redirect_to")
    )
    cyc = d.filter((did >= 400) & (did < 410)).select(
        u(did).alias("url"),
        u(F.lit(400) + (did - 399) % 10).alias("redirect_to"),
    )
    return resolve_redirects(chain.unionByName(cyc))


def _q_postings_delta(spark, sf):
    """Incremental inverted-index maintenance (late r05,
    retrieval.postings_delta): two corpus snapshots from documents —
    prev = doc_id < 400, cur = doc_id >= 30 with every 9th text amended
    (' extraupdate') — emit only the del/add posting rows that take
    index(prev) to index(cur). Unchanged docs emit nothing; the oracle
    rebuilds both digests, the delta-id sets, and the sliced postings."""
    from xrpl_rich_list_py_crawler_spark.operators.retrieval import (
        postings_delta,
    )

    d = _t(spark, sf, "documents")
    prev = d.filter(F.col("doc_id") < 400).select("doc_id", "text")
    cur = d.filter(F.col("doc_id") >= 30).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" extraupdate")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return postings_delta(prev, cur)


def _q_profile_events(spark, sf):
    """Whole-table profiler (late r05, operators/profile.py): per-column
    row/null counts, deterministic-HLL distinct estimates, HDR
    p50/p95/p99 for numerics — composed ENTIRELY from the engine's own
    portable sketches, so the oracle reproduces the full profile:
    counts, every register, every bin, every estimate. Constant shuffle
    count regardless of rows/columns; no driver-side per-column loop
    over data."""
    from xrpl_rich_list_py_crawler_spark.operators.profile import (
        profile_table,
    )

    e = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return profile_table(e)


def _q_boilerplate_clean(spark, sf):
    """Link-density boilerplate removal (late r05,
    curation.boilerplate_clean — jusText/boilerpipe family): HTML
    synthesized per document with a link-dense nav div (dropped: 3
    anchors dominate), a prose paragraph from the document text (kept),
    a too-short div (dropped), and a link-only footer (dropped). Zero
    shuffle — per-row codegen split/transform/filter/array_join; the
    oracle rebuilds blocks, tag-stripping, anchor-length deltas, and
    the exact-integer density test."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        boilerplate_clean,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    html = F.concat(
        F.lit(
            '<div>nav: <a href="/a">Home</a> <a href="/b">About</a>'
            ' <a href="/c">Contact</a></div>'
        ),
        F.lit("<p>"),
        F.substring(F.col("text"), 1, 200),
        F.lit(".</p><div>short</div><div><a href=\"/x\">Terms of"
              " service</a> | <a href=\"/y\">Privacy policy</a></div>"),
    )
    return boilerplate_clean(d.select("doc_id", html.alias("html")))


def _q_snapshot_diff(spark, sf):
    """Incremental-crawl snapshot delta (late r05, frontier.snapshot_diff):
    two crawl cycles synthesized from documents — prev covers doc_id <
    450, cur covers doc_id >= 50 with every 7th page's content digest
    bumped ('v2' suffix) — so all four verdicts (added / removed /
    changed / unchanged) appear. One co-partitioned full-outer join +
    codegen CASE; the oracle reconstructs both sides and the verdict."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        snapshot_diff,
    )

    d = _t(spark, sf, "documents")
    url = F.concat(F.lit("https://example.com/p/"), F.col("doc_id"))
    prev = d.filter(F.col("doc_id") < 450).select(
        url.alias("url"), F.md5("text").alias("content_hash")
    )
    cur = d.filter(F.col("doc_id") >= 50).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.md5(F.concat(F.col("text"), F.lit("v2"))),
        )
        .otherwise(F.md5("text"))
        .alias("content_hash"),
    )
    return snapshot_diff(prev, cur)


def _q_hdr_value_quantiles(spark, sf):
    """HDR-histogram quantile sketch (late r05, operators/sketches.py):
    per-event_type p50/p95/p99 of `value` without sorting observations.
    Pure integer binning — fixed-point micro-units, msb via base-2
    digit count (the HLL rho trick, no float log), bucket lower bound
    as m - m % 2^shift — so bins, cumulative ranks, and quantiles are
    bit-identical across engines and partitionings; the per-key cumsum
    window runs over the bounded bin table, never the raw ledger."""
    from xrpl_rich_list_py_crawler_spark.operators.sketches import (
        hdr_bins, hdr_quantiles,
    )

    e = _t(spark, sf, "events").select("event_type", "value")
    return hdr_quantiles(
        hdr_bins(e, "event_type", "value")
    ).withColumnRenamed("key", "event_type")


def _q_bm25_topk(spark, sf):
    """Inverted index + BM25 ranked retrieval (late r05,
    operators/retrieval.py): posting ROWS (token, doc_id, tf) — never
    per-token arrays — scored with the Lucene BM25 formulation for a
    fixed 4-token query, top-15. Per-term doubles are bit-identical
    across engines (exact-integer inputs, one ln); the per-doc sum is
    fixed-pointed to micro-unit BIGINTs first so it is order-free (the
    house double-sum rule). score_micro is the hard oracle surface."""
    from xrpl_rich_list_py_crawler_spark.operators.retrieval import (
        bm25_topk, build_postings, doc_lengths,
    )

    d = _t(spark, sf, "documents")
    return bm25_topk(
        build_postings(d),
        doc_lengths(d),
        ["spark", "window", "merge", "vector"],
        k=15,
    )


def _q_cdx_roundtrip(spark, sf):
    """CDXJ index round trip (late r05, sources/cdx.py): documents become
    capture rows (mixed-case urls so the SURT transform has work to do;
    status/mime/offset/filename by doc_id arithmetic, digest = md5(text),
    length = utf-8 octet length), serialized to CDXJ lines by
    to_cdx_lines (fixed-order JSON, 14-digit ts) and parsed back by
    parse_cdx_lines — both directions pure JVM codegen. The oracle
    reconstructs every field INCLUDING the SURT key (host comma-reversal
    done by hand in SQL), so the transform, the JSON framing, and the
    timestamp format must all round-trip exactly."""
    from xrpl_rich_list_py_crawler_spark.sources.cdx import (
        parse_cdx_lines, to_cdx_lines,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    caps = d.select(
        F.concat(
            F.lit("https://Sub"), did.cast("string"),
            F.lit(".Example.org/P/"), did.cast("string"),
            F.lit("?q="), (did % 7).cast("string"),
        ).alias("url"),
        F.timestamp_add(
            "SECOND", did.cast("int"),
            F.lit("2024-01-01 00:00:00").cast("timestamp"),
        ).alias("capture_ts"),
        F.when(did % 2 == 0, F.lit("text/html"))
        .otherwise(F.lit("application/pdf")).alias("mime"),
        F.when(did % 3 == 0, F.lit(200))
        .when(did % 3 == 1, F.lit(301))
        .otherwise(F.lit(404)).alias("http_status"),
        F.md5(F.col("text")).alias("digest"),
        F.octet_length(F.col("text")).cast("bigint").alias("length"),
        (did * 1000).cast("bigint").alias("offset"),
        F.concat(
            F.lit("w"), (did % 8).cast("string"), F.lit(".warc.gz")
        ).alias("warc_filename"),
    )
    return parse_cdx_lines(to_cdx_lines(caps))


def _q_mixture_sample(spark, sf):
    """Static training-mixture sampling (late r05, operators/curation.py:
    mixture_sample): target token proportions over four listed sources
    (0.4/0.3/0.2/0.1); with ~equal availability src0 binds (rate 1) and
    the others downsample to w_d·T/avail_d; the other 16 sources drop to
    rate 0. Keep decisions are the hash_sample md5 uniform, so the
    realized mix is engine- and cluster-size-reproducible."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        mixture_sample,
    )

    d = (
        _t(spark, sf, "documents")
        .select("doc_id", "source", "text")
        .withColumn("n_tokens", ts.token_count_col(F.col("text")))
        .drop("text")
    )
    out = mixture_sample(
        d,
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        seed=20260817,
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round("rate", 6).alias("rate"),
        "u",
        "sampled",
    )


def _q_url_traps(spark, sf):
    """Crawl-trap detection (operators/frontier.py:trap_features) over a
    deterministically synthesized URL mix — one bucket per trap family so
    EVERY verdict branch fires: doc_id%5 = 0 normal (with a %10==5
    slice of >512-char session-blob URLs), 1 = 13-deep path, 2 =
    /cal/cal/cal/ recursion, 3 = 8-param faceted explosion, 4 =
    /blog/2024/01/... calendar archive. Synthesized identically in both
    engines from `documents.doc_id` arithmetic (FIXTURES.md contract)."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        trap_features,
    )

    d = _t(spark, sf, "documents").select("doc_id")
    did = F.col("doc_id")
    kind = F.pmod(did, F.lit(5))
    host = F.concat(
        F.lit("https://h"),
        F.pmod(did, F.lit(53)).cast("string"),
        F.lit(".example.com"),
    )
    path = (
        F.when(
            kind == 0,
            F.when(
                F.pmod(did, F.lit(10)) == 5,
                F.concat(F.lit("/long/"), F.repeat(F.lit("z"), 600)),
            ).otherwise(
                F.concat(F.lit("/a/"), F.pmod(did, F.lit(100)).cast("string"))
            ),
        )
        .when(
            kind == 1,
            F.concat(
                F.lit("/d"),
                F.pmod(did, F.lit(7)).cast("string"),
                F.lit("/s0/s1/s2/s3/s4/s5/s6/s7/s8/s9/s10/s11"),
            ),
        )
        .when(kind == 2, F.lit("/cal/cal/cal/x"))
        .when(kind == 3, F.lit("/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8"))
        .otherwise(
            F.concat(
                F.lit("/blog/2024/01/0"),
                F.pmod(did, F.lit(10)).cast("string"),
                F.lit("/why-i-crawl/page/2/extra"),
            )
        )
    )
    urls = d.select("doc_id", F.concat(host, path).alias("url"))
    return trap_features(urls).select(
        "doc_id",
        "path_depth",
        "n_repeat",
        "n_params",
        "has_calendar",
        "url_len",
        "is_trap",
    )


def _q_semdedup(spark, sf):
    """SemDedup (Abbas et al. 2023): coarse-quantizer cell assignment +
    within-cell cosine flagging, keep-lowest-id. Threshold 0.3 — the
    near-dup band that actually exists in the random fixture embeddings
    (same band as embedding_neardups). Exactly oracle-able: the cell
    argmax and the blocked self-join both evaluate over the same
    centroid literals in SQL."""
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.semdedup(emb, dim=64, n_cells=16, threshold=0.3)


def _q_corpus_curation(spark, sf):
    """The full training-data curation pass, end-to-end: language ID +
    quality features + exact dedup + verified near-dup + keep decision,
    composed from the engine's oracle-checked operators (one query = the
    per-batch pipeline a 100 TB corpus runs)."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        curate_corpus,
    )

    return curate_corpus(_t(spark, sf, "documents", spread=True))


def _q_corpus_curation_capped(spark, sf):
    """The SAME curation pass with the 100 TB bucket cap ON
    (``max_bucket_size=2``): identical-signature star-collapse + per-band
    salt-split of residual oversize LSH buckets
    (operators/dedup.py:minhash_lsh_candidates stages 1-2). At sf0.01
    BOTH stages measurably engage (8 identical-sig groups collapse; the
    post-collapse bucket of 3 salt-splits). The oracle is the EXACT
    all-pairs SQL — a green row proves the capped candidate plan loses no
    verified near-dup flag at this scale, i.e. the cap machinery itself
    (not just the uncapped path) is semantics-preserving on real data."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        curate_corpus,
    )

    return curate_corpus(
        _t(spark, sf, "documents", spread=True), max_bucket_size=2
    )


def _q_media_plumbing(spark, sf):
    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("double").alias("duration_s"),
    )
    return extract_features(media).select("media_id", "kind", "n_bytes")


def _q_media_frames(spark, sf):
    """Frame-sampling plumbing (video payload → fixed-stride chunk rows via
    mapInPandas). The fake frame extraction is byte slicing, so the oracle
    reproduces it exactly with blob substring arithmetic."""
    from xrpl_rich_list_py_crawler_spark.operators.multimodal import (
        sample_frames,
    )

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return sample_frames(media, every_n_bytes=64).select(
        "media_id",
        "frame_no",
        F.length("frame").alias("n_bytes"),
        F.hex("frame").alias("frame_hex"),
    )


def _q_media_decode(spark, sf):
    """REAL container decode (r05, closing VERDICT r04 What's-wrong #3):
    deterministic WELL-FORMED WAV/BMP/PPM/PNG/GIF payloads are
    synthesized from doc_id (operators/multimodal.py:synth_container —
    genuine RIFF chunk layout, row-padded BITMAPINFOHEADER, ASCII P6
    header, CRC'd PNG IHDR, GIF89a logical screen descriptor), then
    decode_media content-sniffs the magic bytes and parses the actual
    headers back (≅ the reference's content sniffing,
    check_xrpscan_api.py:18-71). The oracle recomputes every decoded
    field — dims, channels, sample rate, duration, total byte size —
    from the same id arithmetic, so BOTH the byte construction and the
    parse must be right for the hash to match; id%6==3 rows carry an
    unknown magic the decoder must refuse (ok=false, all-null metadata).
    WAV duration is the raw IEEE division n_frames/rate (bit-identical
    across engines; no round — see multimodal.py)."""
    from xrpl_rich_list_py_crawler_spark.operators import multimodal as mm

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200).select("doc_id")
    return mm.decode_media(mm.synth_media_fixture(d, mod=6))



def _q_gopher_quality(spark, sf):
    """Gopher-rules document filter (late r05, textstats.gopher_quality —
    Rae et al. 2021 appendix A): the 7-rule pre-training text gate (word
    count, mean word length, symbol/bullet/ellipsis ratios, alpha-word
    fraction, stopword presence) as one shuffle-free codegen projection.
    Line anchors are spelled (\\A|\\n)/(\\n|\\z) — NOT (?m)^/$ — because
    Java MULTILINE anchors also fire at \\r/U+2028 while RE2's fire only
    at \\n; every ratio is one exact-integer count divided once. The
    word-salad fixture has almost no English stopwords (rule 7 would
    reject ~every doc), so half the corpus gets a deterministic
    stopword-bearing sentence appended — both keep branches are live."""
    d = _t(spark, sf, "documents", spread=True)
    did = F.col("doc_id")
    text2 = F.when(
        did % 2 == 0,
        F.concat(F.col("text"), F.lit(" the results have to be part of that run")),
    ).otherwise(F.col("text"))
    return ts.gopher_quality(d.select("doc_id", text2.alias("text")), min_words=20)


def _q_soft_dedup(spark, sf):
    """SoftDeDup reweighting (late r05, curation.soft_dedup): keep each
    exact duplicate with probability 1/group-size via the integer-exact
    md5 uniform (k·n < 2^32 in bigint — no float anywhere), so every
    distinct text contributes ~1 expected copy. Duplicate groups are
    injected deterministically (doc_id % 3 == 0 docs collapse onto 10
    shared texts; the rest stay unique n=1/keep=true)."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import soft_dedup

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    dup_text = F.when(
        did % 3 == 0,
        F.concat(F.lit("dup-"), (did % 10).cast("string")),
    ).otherwise(F.col("text"))
    return soft_dedup(d.select("doc_id", dup_text.alias("text")))


def _q_leakage_safe_split(spark, sf):
    """Leakage-safe train/val/test split (late r05,
    curation.leakage_safe_split): near-dup connected components (the
    neardup_components truth chain) -> per-COMPONENT md5 split with
    integer thresholds, so a whole duplicate class always lands in one
    split — the eval-contamination guard. The oracle recomputes the
    components with a recursive CTE and the same md5 threshold math."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        leakage_safe_split,
    )

    d = _t(spark, sf, "documents", spread=True)
    pairs = (
        dd.chargram_jaccard_pairs(
            d, dd.minhash_lsh_candidates(d, bands=16, n_hashes=64),
            n=9, stride=3,
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    comps = dd.connected_components(d.select("doc_id"), pairs).select(
        "doc_id", F.col("comp").alias("component")
    )
    return leakage_safe_split(comps)



def _q_bpe_train(spark, sf):
    """Iterative BPE tokenizer training (late r05, textstats.train_bpe):
    6 full merge rounds over the corpus — pair-count groupBy, one-row
    argmax collect, pure-JVM greedy fold per round. Each round's argmax
    parametrizes the next round's fold, so there is NO DuckDB twin
    (rows-only driver check); semantics are pinned by pytest against a
    pure-Python reference (test_train_bpe_matches_python_reference)."""
    d = _t(spark, sf, "documents")
    return ts.train_bpe(d, n_merges=6)



def _q_nofollow_links(spark, sf):
    """REP link/page directives (late r05, udfs.extract_follow_links_col
    + page_noindex_col): anchors with rel="nofollow" are dropped, a
    meta-robots nofollow page contributes no links, noindex is surfaced
    per page — all regexp/array codegen, no Python. HTML is synthesized
    deterministically from doc_id: every page carries a plain anchor, a
    nofollow anchor, and an href-last anchor; doc_id%5 picks the
    meta-robots directive. explode_outer keeps link-less pages as one
    null row (the oracle mirrors with a [NULL] substitution)."""
    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        extract_follow_links_col, page_noindex_col,
    )

    d = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    meta = (
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<meta name="robots" content="noindex,nofollow">'))
        .when(F.col("doc_id") % 5 == 1,
              F.lit('<meta name="robots" content="noindex">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html>"), meta,
        F.lit('<a href="/a'), did, F.lit('">x</a>'),
        F.lit('<a rel="nofollow" href="/b'), did, F.lit('">y</a>'),
        F.lit('<a class="z" href="/c'), did, F.lit('">z</a>'),
        F.lit("</html>"),
    ).cast("binary")
    page = d.select(
        "doc_id",
        extract_follow_links_col(html).alias("links"),
        page_noindex_col(html).alias("noindex"),
    )
    return page.select(
        "doc_id",
        F.explode_outer("links").alias("follow_url"),
        "noindex",
    )



def _q_mime_sniff(spark, sf):
    """Magic-byte MIME routing (late r05, multimodal.sniff_mime_col):
    the JVM hex-prefix when-chain that routes fetched bytes by content
    kind before anything crosses to Python. Inputs: 200 real synthesized
    containers (wav/bmp/ppm/junk/png/gif via synth_container, the
    media_decode fixture) plus 40 literal magic prefixes
    (pdf/gzip/zip/mp3/mp4/jpeg/html/unknown via unhex). The oracle
    recomputes the expected mime from the same id arithmetic — the byte
    construction AND the sniff are checked end to end."""
    from xrpl_rich_list_py_crawler_spark.operators.multimodal import (
        sniff_mime_col, synth_media_fixture,
    )

    d = _t(spark, sf, "documents")
    containers = synth_media_fixture(
        d.filter(F.col("doc_id") < 200).select("doc_id"), mod=6
    )
    did = F.col("doc_id")
    raw = (
        F.when(did % 8 == 0, F.unhex(F.lit("255044462D312E34")))
        .when(did % 8 == 1, F.unhex(F.lit("1F8B0800")))
        .when(did % 8 == 2, F.unhex(F.lit("504B030414")))
        .when(did % 8 == 3, F.unhex(F.lit("49443304")))
        .when(did % 8 == 4, F.unhex(F.lit("00000018667479706D703432")))
        .when(did % 8 == 5, F.unhex(F.lit("FFD8FFE000104A464946")))
        .when(did % 8 == 6, F.unhex(F.lit("2020090A3C21444F43545950452068746D6C3E")))
        .otherwise(F.unhex(F.lit("DEADBEEF")))
    )
    literals = (
        d.filter((did >= 200) & (did < 240))
        .select(did.alias("media_id"), raw.alias("payload"))
    )
    allp = containers.unionByName(literals)
    return allp.select(
        "media_id", sniff_mime_col(F.col("payload")).alias("mime")
    )



def _q_bpe_encode_counts(spark, sf):
    """BPE application (late r05, textstats.bpe_encode): per-doc TRUE
    post-merge token counts under the 6-merge table train_bpe learns
    from the same corpus — broadcast merge dim, distinct-unit Arrow
    encode, two key-partitioned shuffles. Rank-priority iteration has no
    SQL twin (rows-only driver check); pinned against a pure-Python
    reference in pytest."""
    d = _t(spark, sf, "documents")
    return ts.bpe_encode(d, ts.train_bpe(d, n_merges=6))



def _q_text_normalize(spark, sf):
    """Encoding-hygiene normalization (final session,
    textstats.normalize_text_col): CR/CRLF folding, zero-width and
    C0/C1 control stripping, curly-quote/dash/ellipsis folding,
    whitespace-run collapse, trim — one codegen replace chain. Dirt is
    injected deterministically from doc_id (the fixture corpus is
    clean), so both engines scrub identical bytes; n_raw/n_clean
    lengths certify every removal."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    dirty = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit("\r\nend’s “q” — done… \x07!"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(F.col("text"), F.lit("  a\t\tb​﻿c\x01")),
        )
        .when(
            did % 4 == 2,
            F.concat(F.col("text"), F.lit("\n\n\n\n–d‘e’")),
        )
        .otherwise(F.col("text"))
    )
    return d.select(
        "doc_id",
        F.length(dirty).cast("int").alias("n_raw"),
        ts.normalize_text_col(dirty).alias("clean_text"),
        F.length(ts.normalize_text_col(dirty)).cast("int").alias("n_clean"),
    )


def _q_shard_assignment(spark, sf):
    """Size-balanced output sharding (final session,
    packing.shard_assignment): byte-offset prefix sum over doc_id order
    via the two-phase global_cumsum plan (range shuffle + P-row
    broadcast offset dim — never a single-partition window), shard =
    offset div target. The oracle runs the naive SUM() OVER (ORDER BY)
    the scale plan exists to avoid — certifying the distributed prefix
    sum against closed-form truth."""
    from xrpl_rich_list_py_crawler_spark.operators.packing import (
        shard_assignment,
    )

    d = _t(spark, sf, "documents")
    return shard_assignment(d, target_bytes=4000)



def _q_media_resize(spark, sf):
    """Distributed image resize (final session, multimodal.resize_media):
    patterned 8x8 PPMs (grayscale plane (17x+31y+7(id%16)) % 256) plus
    10 junk payloads, nearest-neighbor resampled to 5x3 with floor
    source mapping. The oracle recomputes the resized pixel sum
    closed-form from the same arithmetic via a generate_series cross
    join — decode, NN mapping, and re-encode certified end to end; the
    junk rows pin the ok=false path."""
    from xrpl_rich_list_py_crawler_spark.operators.multimodal import (
        resize_media, synth_patterned_fixture,
    )

    d = _t(spark, sf, "documents")
    imgs = synth_patterned_fixture(d.filter(F.col("doc_id") < 200))
    junk = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 210)).select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.lit("4A554E4B")).alias("payload"),
    )
    out = resize_media(imgs.unionByName(junk), out_w=5, out_h=3)
    return out.select(
        "media_id", "ok", "width", "height", "n_bytes", "pixel_sum"
    )



def _q_audio_resample(spark, sf):
    """Distributed audio resample (final session,
    multimodal.resample_audio): patterned mono 16-bit WAVs (sample i =
    ((13i + 7(id%16)) % 503) - 251 at 8/12/16 kHz) plus 10 junk
    payloads, NN-resampled to 8 kHz. The oracle recomputes out-frame
    counts and the resampled |sample| sums closed-form from the same
    arithmetic via a correlated generate_series — decode, frame
    mapping, and re-encode certified end to end."""
    from xrpl_rich_list_py_crawler_spark.operators.multimodal import (
        resample_audio, synth_patterned_wav_fixture,
    )

    d = _t(spark, sf, "documents")
    wavs = synth_patterned_wav_fixture(d.filter(F.col("doc_id") < 200))
    junk = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 210)).select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.lit("4A554E4B")).alias("payload"),
    )
    out = resample_audio(wavs.unionByName(junk), out_rate=8000)
    return out.select(
        "media_id", "ok", "n_channels", "sample_rate", "n_frames",
        "sample_abs_sum",
    )



def _q_epoch_expand(spark, sf):
    """Fractional-epoch mixture upsampling (final session,
    curation.epoch_expand): per-source epoch factors {src0: 2.0,
    src1: 1.5, src2: 0.25, default 1.0} — whole factors replicate
    exactly, fractional factors add the md5-uniform extra copy, sub-1
    factors become deterministic sampling. Output is one row per
    (doc, copy) with epoch_ix; the oracle recomputes copy counts from
    the same integer md5 math and unnests a range."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        epoch_expand,
    )

    d = _t(spark, sf, "documents").select("doc_id", "source")
    out = epoch_expand(
        d, {"src0": 2.0, "src1": 1.5, "src2": 0.25}, seed=42
    )
    return out.select("doc_id", "source", "n_copies", "epoch_ix")



def _q_kneser_ney_lm(spark, sf):
    """Interpolated Kneser-Ney bigram LM (final session,
    lm.kneser_ney_bigram): exact-integer sufficient statistics (pair
    counts, left totals/fan-outs, right fan-ins, scalar type count) and
    ONE composed float expression per output row — the smoothed model
    the transition heuristic stands in for. min_count=3 keeps the
    fixture dim table modest; the oracle recomputes every statistic and
    the identical IEEE expression tree."""
    from xrpl_rich_list_py_crawler_spark.operators.lm import (
        kneser_ney_bigram,
    )

    d = _t(spark, sf, "documents")
    return kneser_ney_bigram(d, min_count=3)



def _q_winnow_fingerprints(spark, sf):
    """Winnowing fingerprints (final session, textstats.
    winnow_fingerprints — Schleimer et al. 2003 / MOSS): md5-derived
    k-gram hashes, rightmost-min over each sliding window, distinct
    (pos, fp) per doc — position-aware overlap localization. doc_id<50
    bounds the compare set; the oracle recomputes the same selection
    with list_slice/list_aggregate and the reversed-slice rightmost-min
    trick."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return ts.winnow_fingerprints(d, k=9, window=4)



def _q_seq_assembly(spark, sf):
    """Packed-sequence assembly (final session, packing.
    assemble_sequences): one row per training sequence with its
    in-order document list and the boundary offsets an attention mask
    needs (packed docs must not attend across each other). Arrays are
    emitted comma-joined so the hash compare is representation-exact in
    both engines; the oracle rebuilds the same assembly from the naive
    prefix-sum window + ordered list aggregation."""
    from xrpl_rich_list_py_crawler_spark.operators.packing import (
        assemble_sequences,
    )

    d = _t(spark, sf, "documents")
    out = assemble_sequences(d, capacity=256)
    return out.select(
        "seq_id", "n_docs", "n_toks",
        F.array_join(F.transform("doc_ids",
                                 lambda x: x.cast("string")), ",").alias(
            "doc_ids"),
        F.array_join(F.transform("boundaries",
                                 lambda x: x.cast("string")), ",").alias(
            "boundaries"),
    )



def _q_corpus_report(spark, sf):
    """Per-source corpus report (final session, curation.corpus_report):
    the one-page pre-training rollup — volumes, dup/contamination
    pressure, quality and final selection rates per source — one
    map-side-combined groupBy over the same training_mix verdicts the
    training_mix query certifies. Oracle = the training_mix oracle
    wrapped in the identical rollup."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        corpus_report,
        training_mix,
    )

    d = _t(spark, sf, "documents", spread=True)
    train = d.filter(F.col("doc_id") % 10 != 7)
    bench = d.filter(F.col("doc_id") % 10 == 7)
    v = training_mix(
        train, bench, per_source_cap=10, max_top_token_ratio=0.12
    )
    return corpus_report(v)


def _q_heavy_hitters(spark, sf):
    """Exact corpus heavy hitters (sketches.heavy_hitters): every token
    with count·k > total_tokens, computed THROUGH the Misra–Gries
    per-partition candidate prefilter (prefilter=True) so the oracle
    row value-checks the no-false-negative guarantee — the verify pass
    shuffles candidate tokens only, never the full web-scale vocabulary
    long tail."""
    from xrpl_rich_list_py_crawler_spark.operators.sketches import (
        heavy_hitters,
    )

    d = _t(spark, sf, "documents")
    return heavy_hitters(d, k=35, prefilter=True)


def _q_stratified_sample(spark, sf):
    """Exact per-stratum quota sampling (curation.stratified_sample):
    25 docs per language, picked as the quota smallest md5(id:seed)
    uniforms — stratum-partitioned window (never global), reproducible
    on any cluster size, rank kept for quota-growth stability."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        stratified_sample,
    )

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return stratified_sample(d, quota=25, strata_col="lang", seed=42)


def _q_threshold_sweep(spark, sf):
    """Quality-cutoff calibration curve (curation.threshold_sweep over
    textstats.hashed_bow_score): exact integer-rank deciles of the
    classifier's raw score (two-phase global_rank — the corpus frame
    never hits a single-partition window), cumulative docs and token
    mass retained below each cut."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        threshold_sweep,
    )
    from xrpl_rich_list_py_crawler_spark.operators.textstats import (
        hashed_bow_score,
    )

    scored = hashed_bow_score(_t(spark, sf, "documents"))
    return threshold_sweep(
        scored, score_col="raw", weight_col="n_tokens", n_tiles=10
    )


def _q_postings_compact(spark, sf):
    """LSM compaction of a 2-generation postings delta stack
    (retrieval.compact_postings_deltas): three synthetic snapshots of
    the documents corpus (adds, drops, in-place edits), base index built
    on s0, deltas s0→s1→s2, compacted in ONE (token, doc_id) groupBy.
    The oracle is the from-scratch index of the FINAL snapshot — the
    strongest possible check: compaction must reproduce a clean rebuild
    exactly."""
    from xrpl_rich_list_py_crawler_spark.operators.retrieval import (
        build_postings,
        compact_postings_deltas,
        postings_delta,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    t1 = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" upd1"))
    ).otherwise(F.col("text"))
    t2 = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" upd2"))
    ).otherwise(t1)
    s0 = d.filter(F.col("doc_id") % 3 != 0)
    s1 = d.filter(F.col("doc_id") % 3 != 1).select(
        "doc_id", t1.alias("text")
    )
    s2 = d.select("doc_id", t2.alias("text"))
    base = build_postings(s0)
    deltas = [postings_delta(s0, s1), postings_delta(s1, s2)]
    return compact_postings_deltas(base, deltas)


def _q_weighted_sample(spark, sf):
    """Efraimidis–Spiliopoulos weighted sampling without replacement
    (curation.weighted_sample): 20 docs per language with inclusion odds
    proportional to n_chars — md5 exact uniform, ln(u)/w A-ES keys, the
    stratum-partitioned ranking window (never global)."""
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        weighted_sample,
    )

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(
        d, k=20, weight_col="n_chars", strata_col="lang", seed=42
    )


def _q_snm_pairs(spark, sf):
    """Sorted-neighborhood blocking (dedup.sorted_neighborhood_pairs):
    candidate pairs within a 5-position window of the corpus sorted by
    lowercase 40-char text prefix — two-phase global_rank positions +
    the skew-free rank-block equi join, all-integer output."""
    from xrpl_rich_list_py_crawler_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return sorted_neighborhood_pairs(
        d,
        sort_key=F.lower(F.substring("text", 1, 40)),
        window=5,
    )


def _q_template_fingerprint(spark, sf):
    """Structural template clustering (textstats.template_fingerprint):
    md5 of the ordered opening-tag sequence per page (one codegen
    regexp_extract_all over the decoded blob), rolled up to template
    clusters with a boilerplate flag — runs on the committed sf0.01
    crawl pages fixture (the input_hint table shape), like the crawl
    queries themselves."""
    from xrpl_rich_list_py_crawler_spark.operators.textstats import (
        template_fingerprint,
    )

    return template_fingerprint(_fix(spark, sf, "pages"), min_pages=2)


def _q_margin_pairs(spark, sf):
    """Margin-based pair mining (similarity.margin_topk): CCMatrix
    neighborhood-normalized cosine over the embeddings table split into
    even/odd sides; running-sum top-4 denominators make the margins
    bit-identical across engines."""
    from xrpl_rich_list_py_crawler_spark.operators.similarity import (
        margin_topk,
    )

    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    return margin_topk(e, k=4, threshold=1.0)


def _q_trust_rank(spark, sf):
    """Spam-resistant host scoring (graph.trust_rank): 5 iterations of
    integer-exact TrustRank over the same synthetic host graph as
    host_pagerank, with hosts divisible by 10 as the trusted whitelist —
    teleport and dangling mass flow to seeds only, so seed-unreachable
    farms score exactly 0. The oracle unrolls all 5 iterations as plain
    CTEs (an independent DuckDB TrustRank, not a golden file)."""
    from xrpl_rich_list_py_crawler_spark.operators.graph import trust_rank

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 600)
    did = F.col("doc_id")
    edges = (
        d.select((did % 57).alias("src"), ((did * 7 + 3) % 60).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = spark.range(0, 60, 10).select(F.col("id").alias("host"))
    return trust_rank(edges, seeds, n_iter=5)


def _q_phrase_search(spark, sf):
    """Positional-index phrase retrieval (retrieval.phrase_search): the
    query-time complement of the scan-time phrase blocklist — docs
    containing the exact consecutive phrase 'table hash', with match
    counts, answered from (token, doc_id, pos) postings via the
    anchor-group trick (anchor = pos − offset; all m offsets present)."""
    from xrpl_rich_list_py_crawler_spark.operators.retrieval import (
        build_positional_postings,
        phrase_search,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return phrase_search(build_positional_postings(d), "table hash")


def _q_dsir_select(spark, sf):
    """The DSIR SELECTION step (Xie et al. 2023 §3): importance
    resampling WITHOUT replacement ∝ the dsir_weights importance — the
    composition lm.dsir_weights → curation.weighted_sample (A-ES keys
    over the rounded importance, global TakeOrderedAndProject cut).
    Completes the DSIR pipeline the r05 dsir_weights query started."""
    from xrpl_rich_list_py_crawler_spark.operators import lm
    from xrpl_rich_list_py_crawler_spark.operators.curation import (
        weighted_sample,
    )

    d = _t(spark, sf, "documents", spread=True).select(
        "doc_id", "text", (F.col("doc_id") % 10 < 2).alias("is_target")
    )
    w = lm.dsir_weights(d).select("doc_id", "importance")
    return weighted_sample(w, k=50, weight_col="importance", seed=11)


def _q_proximity_search(spark, sf):
    """Unordered proximity retrieval (retrieval.proximity_search): docs
    where 'table', 'hash', and 'join' all occur within a 10-token span,
    counted by anchor occurrences — one bit per term, a bit_or RANGE
    window over the positional postings, integer-exact in both
    engines."""
    from xrpl_rich_list_py_crawler_spark.operators.retrieval import (
        build_positional_postings,
        proximity_search,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return proximity_search(
        build_positional_postings(d), ["table", "hash", "join"], window=10
    )


def _q_containment_pairs(spark, sf):
    """Asymmetric excerpt detection (dedup.chargram_containment_pairs):
    containment |A∩B|/|A| over sorted-neighborhood candidates (w=5 on
    the lowercase 40-char prefix — the blocking that CATCHES truncation
    pairs LSH misses), char-9-grams stride 3, keep pairs where either
    side is ≥ 0.2 contained. Directional: tells which doc is the
    excerpt, which Jaccard cannot."""
    from xrpl_rich_list_py_crawler_spark.operators.dedup import (
        chargram_containment_pairs,
        sorted_neighborhood_pairs,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    cands = sorted_neighborhood_pairs(
        d, sort_key=F.lower(F.substring("text", 1, 40)), window=5
    ).select("id_a", "id_b")
    scored = chargram_containment_pairs(d, cands, n=9, stride=3)
    return scored.filter(
        (F.col("containment_a") >= 0.2) | (F.col("containment_b") >= 0.2)
    ).select(
        "id_a",
        "id_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


def _q_url_templates(spark, sf):
    """URL path-template mining (frontier.url_path_templates): hex/digit
    runs collapsed to {hex}/{n}, rolled up per (host, template) over the
    crawl pages fixture — the aggregate URL-space-explosion view behind
    per-template frontier budget caps."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        url_path_templates,
    )

    return url_path_templates(
        _fix(spark, sf, "pages").select("url"), min_urls=10
    )


def _q_winnow_clones(spark, sf):
    """Cross-corpus MOSS clone pairs (dedup.winnow_clone_pairs): docs
    sharing ≥3 distinct winnowing fingerprints over the doc_id<300
    slice (same k=9/window=4 grammar as the winnow_fingerprints query)
    AFTER dropping fingerprints present in >5 docs (the MOSS
    too-common rule — without it the lorem fixture's shared vocabulary
    makes 75% of all pairs 'clones'), with directional coverage
    ratios — the verbatim-run blocking MinHash and SNM both miss."""
    from xrpl_rich_list_py_crawler_spark.operators.dedup import (
        winnow_clone_pairs,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    return winnow_clone_pairs(d, min_shared=3, max_fp_freq=5)


def _q_host_quality_rank(spark, sf):
    """Quality-feedback host ranking (frontier.host_quality_rank): the
    crawl→curation→crawl loop — per-host keep-rate (integer
    cross-multiplied text gates) → quality_ppm → two-phase global rank,
    the next round's host_rank input."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        host_quality_rank,
    )

    # projected spread (r06): the token-count/punct gate battery over the
    # sub-split pages scan ran single-threaded; project to the two used
    # columns FIRST so the spread exchange never carries the html blob
    # (the full-row spread measured net-negative), then parallelize.
    # Scale-adaptive like every _spread use. A/B: 3.2-3.9s -> 1.0-2.2s.
    d = ensure_crawl_fixtures(_crawl_sf(sf))
    p = os.path.join(d, "pages.parquet")
    pages = _spread(spark, spark.read.parquet(p).select("url", "text"), p)
    return host_quality_rank(pages)


def _q_multi_block_dedup(spark, sf):
    """Multi-pass ER capstone (dedup.multi_block_dedup): exact-hash ∪
    sorted-neighborhood ∪ winnow-fingerprint candidates over the
    doc_id<300 slice, each pair verified by exact char-gram similarity,
    with per-source provenance flags and the final is_dup verdict —
    three blocking geometries whose blind spots are disjoint, one
    oracle-checked composition."""
    from xrpl_rich_list_py_crawler_spark.operators.dedup import (
        multi_block_dedup,
    )

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    return multi_block_dedup(d)


def _q_mirror_hosts(spark, sf):
    """Mirror-site detection (graph.mirror_hosts): the fixture corpus
    plus two deterministic synthetic mirrors — h1.* fully copied under
    m1.*, h2.* half-copied (even doc parity via md5 low bit) under
    m2.* — must surface exactly those host pairs with the right shared
    counts and coverage ratios (the partial mirror shows share ≈ 0.5
    on the original side, 1.0 on the mirror side)."""
    from xrpl_rich_list_py_crawler_spark.operators.graph import mirror_hosts

    pages = _fix(spark, sf, "pages").select("url", "text")
    m1 = pages.filter(F.col("url").startswith("https://h1.")).select(
        F.regexp_replace("url", r"^https://h1\.", "https://m1.").alias("url"),
        "text",
    )
    m2 = (
        pages.filter(F.col("url").startswith("https://h2."))
        .filter(F.conv(F.substring(F.md5("text"), 1, 2), 16, 10)
                .cast("int") % 2 == 0)
        .select(
            F.regexp_replace("url", r"^https://h2\.", "https://m2.")
            .alias("url"),
            "text",
        )
    )
    return mirror_hosts(pages.unionByName(m1).unionByName(m2), min_shared=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered queries, one per SURVEY.md §2 operator.

    ORDERING CONTRACT: the driver's correctness gate samples the FIRST 50
    dict entries per round, so entries rotate round-over-round until every
    query has a recent hard driver row. Round 5 head-slots (a) the full
    22-entry r04 demoted tail (the function.sql chain, w2, dedup_exact,
    text_quality, token_counts_by_lang, doc_fingerprints,
    minhash_neardups, neardup_components — several of their shared code
    paths changed in r04/r05, so their r03 green rows are stale-code
    evidence), (b) the NEW r05 queries (media_decode — real WAV/BMP/
    PPM header decode; ngram_contamination_hashed — the xxhash64+bloom
    web-scale variant; repetition_stats; training_mix; line_dedup —
    cross-doc CCNet boilerplate strike; hash_sample — deterministic
    stratified sampling; substring_dedup — Lee-et-al exact-substring
    span removal; classifier_score — fastText-style hashed-BOW quality
    gate; bigram_quality — transition-LM perplexity stand-in;
    dsir_weights — DSIR hashed-feature importance resampling weights;
    blocklist_filter — UT1-style domain-blocklist strike;
    image_ahash_neardups — real-pixel average-hash image near-dup;
    seq_packing — fixed-capacity training-sequence packing via a
    two-phase distributed prefix sum; bpe_merge_pairs — first BPE
    tokenizer-training iteration over the distinct-pre-token frame;
    host_pagerank — integer-exact link-graph PageRank deriving the
    crawl's host_rank input, oracle-checked against 5 fully-unrolled
    SQL iterations; sessionization — per-user gaps-and-islands session
    windows on integer epoch-microseconds),
    and (c) every query whose code path changed in
    r05: the portable-whitespace-class sweep (unigram/ngram/token/lang/
    curation/fingerprint families), the PII_PHONE tightening, the
    unigram_vocab top-k replan, and the politeness budget-from-delay
    coupling — plus the flagship crawl chain. Demoted to the tail: the
    stable TPC-H-ish operator queries (every one green in the r04 window,
    CORRECTNESS_r04.json, on code unchanged since) and, with the four
    line_dedup/hash_sample/substring_dedup/classifier_score/
    bigram_quality/dsir_weights/blocklist_filter/image_ahash_neardups
    head additions, the ann_* trio + embedding_neardups{,_lsh} (green
    r04, similarity.py unchanged in r05), media_plumbing + media_frames
    (multimodal.py's r05 diff is purely additive — the plumbing
    functions untouched), simhash_neardups (simhash_near_dups +
    chargram_jaccard_pairs both outside the r05 WS sweep), and
    trustline_rich_list (entry-file chain, code unchanged since its
    green r04 row) slide just past the 50-entry window — as do, with
    the late seq_packing / bpe_merge_pairs / host_pagerank /
    sessionization head additions, domain_cap (cap_per_key unchanged
    since its green r04 row), url_canonicalization (udfs.py canon path
    unchanged in r05, green r04), robots_denied (apply_robots unchanged
    — the r05 politeness diff is entirely inside parse_robots_txt,
    re-certified in-window by robots_txt_parse), and sitemap_parse
    (parse_sitemap unchanged — the r05 sitemap diff is entirely inside
    sitemap_seeds).

    Queries REGISTERED AFTER the r05 window froze (semdedup, url_traps,
    mixture_sample, recrawl_schedule, robots_wildcard_gate,
    c4_line_clean, warc_roundtrip, cdx_roundtrip, anchor_texts,
    hll_host_distinct, cm_token_counts, bm25_topk, hdr_value_quantiles,
    snapshot_diff, boilerplate_clean, profile_events, postings_delta,
    resolve_redirects) are tail-registered: each is LOCAL-green via
    scripts/check_correctness.py this round and is a head-slot
    candidate for the r06 rotation. The final-session additions
    (gopher_quality, soft_dedup, leakage_safe_split, nofollow_links,
    mime_sniff, text_normalize, shard_assignment, media_resize,
    audio_resample, epoch_expand, kneser_ney_lm, winnow_fingerprints,
    seq_assembly, corpus_report, minhash_incremental — the
    vs-reference incremental LSH join, kn_doc_quality — the KN LM
    applied per doc, script_profile — Unicode script composition with
    synthesized non-Latin tails, kmeans_embeddings — integer-exact
    distributed Lloyd's k-means whose oracle unrolls all iterations as
    CTEs, ccnet_buckets — CCNet §4.1 equal-character-mass
    head/middle/tail split in KN-LM quality order over the two-phase
    prefix sum, host_hits — integer-exact HITS hubs/authorities with
    the unit-divide normalization, lang_segments — CCNet per-paragraph
    language segmentation with synthesized mixed-language pages,
    temperature_sample — XLM-R α=1/2 sqrt-mass mixture balancing via
    exact integer sqrt, epoch_shuffle — reproducible per-epoch
    dataloader permutation over the two-phase rank,
    webdataset_roundtrip — deterministic tar-shard sink/source with a
    reconstruct-from-documents oracle, pmi_phrases — word2phrase
    collocation mining with pinned-association double scores,
    canonical_by_quality — RefinedWeb keep-the-best component
    canonicalization, badwords_filter — the C4 word-blocklist page
    gate, phrase_blocklist — its multi-word companion,
    chunk_documents — RAG fixed-token-window chunking,
    chunk_retrieval — the chunk→hashed-BOW-vector→exact-integer-cosine
    retrieval chain — all
    oracle-backed; plus unigram_lm_train/unigram_encode —
    SentencePiece-style Viterbi hard-EM tokenizer training, iterative
    and rows-only by design like bpe_train, pinned against
    py_unigram_train in pytest
    and local-green; bpe_train and bpe_encode_counts — iterative,
    rows-only by design, pytest-pinned against pure-Python references)
    join that tail, as do the final-session four (heavy_hitters —
    Misra–Gries candidate prefilter + exact integer verify;
    stratified_sample — exact per-stratum quotas over the md5 uniform;
    threshold_sweep — quality-cutoff retention curve on two-phase
    global_rank deciles; postings_compact — one-shuffle LSM fold of a
    postings-delta stack, oracled against a from-scratch rebuild of the
    final snapshot — all four oracle-backed and local-green) and the
    close-out pair (weighted_sample — Efraimidis–Spiliopoulos A-ES
    weighted-without-replacement over the md5 uniform; snm_pairs —
    sorted-neighborhood blocking on two-phase ranks with the skew-free
    block equi join; template_fingerprint — structural tag-sequence
    clustering over the raw pages fixture; margin_pairs — CCMatrix
    margin scoring with bit-identical running-sum denominators;
    trust_rank — integer-exact seed-whitelist TrustRank, oracled by 5
    unrolled DuckDB iterations; phrase_search — positional-index exact
    phrase retrieval via the anchor-group trick; dsir_select — the DSIR
    selection step, dsir_weights composed into the A-ES resampler;
    proximity_search — bitmask bit_or RANGE-window within-span
    retrieval; containment_pairs — asymmetric excerpt detection over
    SNM candidates; url_templates — per-(host, template) URL-space
    rollup; winnow_clones — MOSS fingerprint clone-pair blocking with
    the too-common rule; host_quality_rank — the crawl→curation→crawl
    quality-feedback loop; multi_block_dedup — the three-geometry ER
    capstone with per-source provenance; mirror_hosts — host-level
    mirror-site detection with synthetic-mirror oracle — all fourteen
    oracle-backed and local-green).
    """
    return {
        # --- (a) the r04 demoted tail, promoted for fresh driver rows ---
        "dedup_exact": _q_dedup_exact,
        "text_quality": _q_text_quality,
        "token_counts_by_lang": _q_token_counts_by_lang,
        "doc_fingerprints": _q_doc_fingerprints,
        "minhash_neardups": _q_minhash_neardups,
        "neardup_components": _q_neardup_components,
        "w2_summary_view_id": _q_w2_summary_view_id,
        "summary_latest": _q_summary_latest,
        "summary_series": _q_summary_series,
        "balance_changes": _q_balance_changes,
        "available_changes": _q_available_changes,
        "category_changes": _q_category_changes,
        "country_changes": _q_country_changes,
        "category_statistics": _q_category_statistics,
        "country_statistics": _q_country_statistics,
        "available_statistics": _q_available_statistics,
        "retention_cleanup": _q_retention_cleanup,
        "significant_changes": _q_significant_changes,
        "summary_with_changes": _q_summary_with_changes,
        "category_summary_wide": _q_category_summary_wide,
        "country_summary_wide": _q_country_summary_wide,
        "alert_lines": _q_alert_lines,
        # --- (b) NEW in r5 ---
        "media_decode": _q_media_decode,
        "ngram_contamination_hashed": _q_ngram_contamination_hashed,
        "repetition_stats": _q_repetition_stats,
        "training_mix": _q_training_mix,
        "line_dedup": _q_line_dedup,
        "hash_sample": _q_hash_sample,
        "substring_dedup": _q_substring_dedup,
        "classifier_score": _q_classifier_score,
        "bigram_quality": _q_bigram_quality,
        "dsir_weights": _q_dsir_weights,
        "blocklist_filter": _q_blocklist_filter,
        "image_ahash_neardups": _q_image_ahash_neardups,
        "seq_packing": _q_seq_packing,
        "bpe_merge_pairs": _q_bpe_merge_pairs,
        "host_pagerank": _q_host_pagerank,
        "sessionization": _q_sessionization,
        # --- (c) r05-changed code paths re-certified in-window ---
        "unigram_quality": _q_unigram_quality,
        "pii_redaction": _q_pii_redaction,
        "ngram_contamination": _q_ngram_contamination,
        "politeness_assignment": _q_politeness_assignment,
        "token_jaccard_pairs": _q_token_jaccard_pairs,
        "bpe_token_counts": _q_bpe_token_counts,
        "lang_id": _q_lang_id,
        "corpus_curation": _q_corpus_curation,
        "corpus_curation_capped": _q_corpus_curation_capped,
        "crawl_round1": _q_crawl_round1,
        "crawl_seen_after3": _q_crawl_seen_after3,
        "robots_txt_parse": _q_robots_txt_parse,
        # --- 50-entry driver window ends here: with seq_packing,
        #     bpe_merge_pairs, host_pagerank, and sessionization
        #     head-slotted, four r04-green entries whose specific code is
        #     unchanged in r05 slide just past the window: domain_cap
        #     (cap_per_key untouched), url_canonicalization (udfs.py
        #     canon path untouched), robots_denied (apply_robots
        #     untouched — the r05 politeness diff is entirely inside
        #     parse_robots_txt, which robots_txt_parse re-certifies
        #     in-window), and sitemap_parse (parse_sitemap untouched —
        #     the r05 sitemap diff is entirely inside sitemap_seeds) ---
        "robots_denied": _q_robots_denied,
        "sitemap_parse": _q_sitemap_parse,
        "domain_cap": _q_domain_cap,
        "url_canonicalization": _q_url_canonicalization,
        "trustline_rich_list": _q_trustline_rich_list,
        "media_plumbing": _q_media_plumbing,
        "media_frames": _q_media_frames,
        "simhash_neardups": _q_simhash_neardups,
        "embedding_neardups": _q_embedding_neardups,
        "embedding_neardups_lsh": _q_embedding_neardups_lsh,
        "ann_bruteforce": _q_ann_bruteforce,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "f5_canonical_label": _q_f5_canonical_label,
        # --- demoted tail (24): stable operator queries, all green in the
        #     r04 driver window on code unchanged since ---
        "j2_customers_without_orders": _q_j2_customers_without_orders,
        "w3_latest_event_per_user": _q_w3_latest_event_per_user,
        "w4_percent_of_total": _q_w4_percent_of_total,
        "p6_time_range": _q_p6_time_range,
        "j6_banded_asof": _q_j6_banded_asof,
        "o5_unpivot": _q_o5_unpivot,
        "o3_top5_orders": _q_o3_top5_orders,
        "a5_max_per_group": _q_a5_max_per_group,
        "a8_distinct": _q_a8_distinct,
        "f3_drops_to_xrp": _q_f3_drops_to_xrp,
        "f4_format_label": _q_f4_format_label,
        "p9_enum_check": _q_p9_enum_check,
        "f1_parse_amounts": _q_f1_parse_amounts,
        "f11_interval_shift": _q_f11_interval_shift,
        "a2_lineitem_agg": _q_a2_lineitem_agg,
        "j4_region_rollup": _q_j4_region_rollup,
        "j1_left_merge_coalesce": _q_j1_left_merge_coalesce,
        "w1_order_rank": _q_w1_order_rank,
        "j5_asof_user_value": _q_j5_asof_user_value,
        "j7_pivot": _q_j7_pivot,
        "a4_two_level_rollup": _q_a4_two_level_rollup,
        "f10_hourly_tumbling": _q_f10_hourly_tumbling,
        "t5_lag_change": _q_t5_lag_change,
        "p10_json_projection": _q_p10_json_projection,
        # --- NEW late-r05 (registered after the 50-entry window froze;
        #     locally oracle-verified via scripts/check_correctness.py,
        #     head-slot candidates for the r06 window) ---
        "semdedup": _q_semdedup,
        "url_traps": _q_url_traps,
        "mixture_sample": _q_mixture_sample,
        "recrawl_schedule": _q_recrawl_schedule,
        "robots_wildcard_gate": _q_robots_wildcard_gate,
        "c4_line_clean": _q_c4_line_clean,
        "warc_roundtrip": _q_warc_roundtrip,
        "cdx_roundtrip": _q_cdx_roundtrip,
        "anchor_texts": _q_anchor_texts,
        "hll_host_distinct": _q_hll_host_distinct,
        "cm_token_counts": _q_cm_token_counts,
        "bm25_topk": _q_bm25_topk,
        "hdr_value_quantiles": _q_hdr_value_quantiles,
        "snapshot_diff": _q_snapshot_diff,
        "boilerplate_clean": _q_boilerplate_clean,
        "profile_events": _q_profile_events,
        "postings_delta": _q_postings_delta,
        "resolve_redirects": _q_resolve_redirects,
        "gopher_quality": _q_gopher_quality,
        "soft_dedup": _q_soft_dedup,
        "leakage_safe_split": _q_leakage_safe_split,
        "bpe_train": _q_bpe_train,
        "nofollow_links": _q_nofollow_links,
        "mime_sniff": _q_mime_sniff,
        "bpe_encode_counts": _q_bpe_encode_counts,
        "text_normalize": _q_text_normalize,
        "shard_assignment": _q_shard_assignment,
        "media_resize": _q_media_resize,
        "audio_resample": _q_audio_resample,
        "epoch_expand": _q_epoch_expand,
        "kneser_ney_lm": _q_kneser_ney_lm,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "seq_assembly": _q_seq_assembly,
        "corpus_report": _q_corpus_report,
        "minhash_incremental": _q_minhash_incremental,
        "kn_doc_quality": _q_kn_doc_quality,
        "script_profile": _q_script_profile,
        "kmeans_embeddings": _q_kmeans_embeddings,
        "ccnet_buckets": _q_ccnet_buckets,
        "host_hits": _q_host_hits,
        "lang_segments": _q_lang_segments,
        "temperature_sample": _q_temperature_sample,
        "epoch_shuffle": _q_epoch_shuffle,
        "webdataset_roundtrip": _q_webdataset_roundtrip,
        "pmi_phrases": _q_pmi_phrases,
        "canonical_by_quality": _q_canonical_by_quality,
        "badwords_filter": _q_badwords_filter,
        "unigram_lm_train": _q_unigram_lm_train,
        "unigram_encode": _q_unigram_encode,
        "chunk_documents": _q_chunk_documents,
        "chunk_retrieval": _q_chunk_retrieval,
        "phrase_blocklist": _q_phrase_blocklist,
        "heavy_hitters": _q_heavy_hitters,
        "stratified_sample": _q_stratified_sample,
        "threshold_sweep": _q_threshold_sweep,
        "postings_compact": _q_postings_compact,
        "weighted_sample": _q_weighted_sample,
        "snm_pairs": _q_snm_pairs,
        "template_fingerprint": _q_template_fingerprint,
        "margin_pairs": _q_margin_pairs,
        "trust_rank": _q_trust_rank,
        "phrase_search": _q_phrase_search,
        "dsir_select": _q_dsir_select,
        "proximity_search": _q_proximity_search,
        "containment_pairs": _q_containment_pairs,
        "url_templates": _q_url_templates,
        "winnow_clones": _q_winnow_clones,
        "host_quality_rank": _q_host_quality_rank,
        "multi_block_dedup": _q_multi_block_dedup,
        "mirror_hosts": _q_mirror_hosts,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _changes_sql(value_col: str) -> str:
    """DuckDB rendering of update_balance/available_changes
    (function.sql:97-404): global lookback timestamps, banded 1h."""
    return f"""
    WITH summary AS ({SUMMARY_SQL}),
    latest AS (SELECT max(created_at) AS ts FROM summary),
    targets(hours, target_ts) AS (
        SELECT 1, (SELECT max(created_at) FROM summary
                   WHERE created_at > (SELECT ts FROM latest) - INTERVAL 70 MINUTE
                     AND created_at <= (SELECT ts FROM latest) - INTERVAL 45 MINUTE)
        UNION ALL SELECT 3, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 3 HOUR)
        UNION ALL SELECT 24, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 24 HOUR)
        UNION ALL SELECT 168, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 168 HOUR)
        UNION ALL SELECT 720, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 720 HOUR)
    ),
    cur AS (SELECT grouped_label, {value_col} AS cur FROM summary
            WHERE created_at = (SELECT ts FROM latest)),
    fanned AS (SELECT * FROM cur CROSS JOIN targets),
    joined AS (
        SELECT f.grouped_label, f.hours, f.cur, s.{value_col} AS prev_raw
        FROM fanned f LEFT JOIN summary s
          ON s.grouped_label = f.grouped_label AND s.created_at = f.target_ts
    )
    SELECT grouped_label, hours,
        CAST(cur - COALESCE(prev_raw, cur) AS DOUBLE) AS balance_change,
        ROUND(CASE WHEN CAST(COALESCE(prev_raw, cur) AS DOUBLE) = 0 THEN 0
              ELSE (CAST(cur AS DOUBLE) - CAST(COALESCE(prev_raw, cur) AS DOUBLE))
                   / CAST(COALESCE(prev_raw, cur) AS DOUBLE) * 100
              END, 6) AS percentage_change,
        (SELECT ts FROM latest) AS calculated_at
    FROM joined
    """


def _dim_changes_sql(dim: str) -> str:
    return f"""
    WITH summary AS ({SUMMARY_SQL}),
    dim_summary AS (
        SELECT c.{dim} AS grouped_label, s.created_at,
               CAST(SUM(s."count") AS BIGINT) AS "count",
               SUM(s.total_balance) AS total_balance,
               SUM(s.total_escrow) AS total_escrow,
               SUM(s.total_xrp) AS total_xrp
        FROM summary s JOIN {CATS} c USING (grouped_label)
        GROUP BY 1, 2
    ),
    latest AS (SELECT max(created_at) AS ts FROM summary),
    targets(hours, target_ts) AS (
        SELECT 1, (SELECT max(created_at) FROM summary
                   WHERE created_at > (SELECT ts FROM latest) - INTERVAL 70 MINUTE
                     AND created_at <= (SELECT ts FROM latest) - INTERVAL 45 MINUTE)
        UNION ALL SELECT 3, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 3 HOUR)
        UNION ALL SELECT 24, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 24 HOUR)
        UNION ALL SELECT 168, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 168 HOUR)
        UNION ALL SELECT 720, (SELECT max(created_at) FROM summary
                   WHERE created_at <= (SELECT ts FROM latest) - INTERVAL 720 HOUR)
    ),
    cur AS (SELECT * FROM dim_summary WHERE created_at = (SELECT ts FROM latest)),
    joined AS (
        SELECT c.grouped_label, t.hours, c."count", c.total_balance,
               c.total_escrow, c.total_xrp, h.total_xrp AS prev_raw
        FROM cur c CROSS JOIN targets t
        LEFT JOIN dim_summary h
          ON h.grouped_label = c.grouped_label AND h.created_at = t.target_ts
    )
    SELECT grouped_label, hours, "count",
        CAST(total_balance AS DOUBLE) AS total_balance,
        CAST(total_escrow AS DOUBLE) AS total_escrow,
        CAST(total_xrp AS DOUBLE) AS total_xrp,
        CAST(total_xrp - COALESCE(prev_raw, total_xrp) AS DOUBLE)
            AS balance_change,
        ROUND(CASE WHEN CAST(COALESCE(prev_raw, total_xrp) AS DOUBLE) = 0 THEN 0
              ELSE (CAST(total_xrp AS DOUBLE)
                    - CAST(COALESCE(prev_raw, total_xrp) AS DOUBLE))
                   / CAST(COALESCE(prev_raw, total_xrp) AS DOUBLE) * 100 END, 6)
            AS percentage_change,
        (SELECT ts FROM latest) AS calculated_at
    FROM joined
    """


def _dim_summary_wide_sql(dim: str) -> str:
    """DuckDB rendering of the wide reporting views (table.sql:392-511)."""
    pivots = ",\n               ".join(
        f"MAX(CASE WHEN hours={h} THEN balance_change END) AS change_{h}h,\n"
        f"               MAX(CASE WHEN hours={h} THEN percentage_change END)"
        f" AS percentage_{h}h"
        for h in (1, 3, 24, 168, 720)
    )
    ent_cat = "grouped_label" if dim == "category" else "'-'"
    ent_cty = "grouped_label" if dim == "country" else "'-'"
    return f"""
    WITH ch AS ({_dim_changes_sql(dim)}),
    lc AS (SELECT grouped_label, MAX(calculated_at) AS ts FROM ch GROUP BY 1),
    latest AS (
        SELECT c.* FROM ch c JOIN lc
          ON c.grouped_label = lc.grouped_label AND c.calculated_at = lc.ts
    ),
    wide AS (
        SELECT grouped_label, "count", total_balance, total_escrow,
               total_xrp, calculated_at,
               {pivots}
        FROM latest GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY total_xrp DESC, grouped_label)
                AS INT) AS id,
        grouped_label, "count", total_balance, total_escrow, total_xrp,
        calculated_at AS created_at, total_xrp AS show_total_xrp,
        {ent_cat} AS entity_category, {ent_cty} AS entity_country,
        change_1h, percentage_1h, change_3h, percentage_3h,
        change_24h, percentage_24h, change_168h, percentage_168h,
        change_720h, percentage_720h
    FROM wide
    """


#: DuckDB implementation of canonicalize_url (independent of the Python
#: twin): lowercase scheme+host, strip default port/fragment, sort query,
#: strip trailing slashes on non-root paths.
_CANON_SQL = r"""
    WITH parts AS (
        SELECT url,
            lower(split_part(url, '://', 1)) AS scheme,
            split_part(split_part(url, '://', 2), '#', 1) AS rest
        FROM {src}
    ),
    split1 AS (
        SELECT url, scheme,
            split_part(rest, '/', 1) AS hostport,
            CASE WHEN strpos(rest, '/') = 0 THEN '/'
                 ELSE substr(rest, strpos(rest, '/')) END AS pathq
        FROM parts
    ),
    split2 AS (
        SELECT url, scheme,
            lower(split_part(hostport, ':', 1)) AS host,
            split_part(hostport, ':', 2) AS port,
            split_part(pathq, '?', 1) AS path,
            CASE WHEN strpos(pathq, '?') = 0 THEN ''
                 ELSE substr(pathq, strpos(pathq, '?') + 1) END AS query
        FROM split1
    ),
    norm AS (
        SELECT url, scheme, host,
            CASE WHEN port = '' THEN ''
                 WHEN scheme = 'https' AND port = '443' THEN ''
                 WHEN scheme = 'http' AND port = '80' THEN ''
                 ELSE ':' || port END AS portpart,
            CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                 WHEN length(path) > 1 THEN regexp_replace(path, '/+$', '')
                 ELSE path END AS path,
            CASE WHEN query = '' THEN ''
                 ELSE '?' || array_to_string(
                        list_sort(string_split(query, '&')), '&') END AS q
        FROM split2
    )
    SELECT url, scheme || '://' || host || portpart || path || q AS canon_url
    FROM norm
"""

_POLITENESS_SQL = f"""
    WITH seeds AS (
        SELECT url, depth, discovery_ts,
            lower(split_part(split_part(url, '://', 2), '/', 1)) AS host,
            substr(split_part(url, '://', 2),
                   strpos(split_part(url, '://', 2), '/')) AS path
        FROM {SEEDS}
    ),
    gated AS (
        SELECT s.*, r.crawl_delay_s, r.max_fetches_per_round,
            COALESCE(len(list_filter(r.disallow_prefixes,
                                     p -> starts_with(s.path, p))) > 0,
                     FALSE) AS robots_denied
        FROM seeds s LEFT JOIN {ROBOTS} r USING (host)
    ),
    allowed AS (
        SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY host
                    ORDER BY depth, discovery_ts, url) AS host_slot
        FROM gated WHERE NOT robots_denied
    )
    SELECT url, host, CAST(host_slot AS INT) AS host_slot,
        -- r05 budget-from-delay: floor(16s round / delay) in [1,16];
        -- hosts absent from the dim keep the flat 16 default
        host_slot <= COALESCE(
            LEAST(16, GREATEST(1, CAST(FLOOR(16.0 / crawl_delay_s) AS INT))),
            16) AS selected,
        ROUND((host_slot - 1) * COALESCE(crawl_delay_s, 1.0), 6)
            AS fetch_delay_s
    FROM allowed
"""


#: exact char-9-gram Jaccard near-dup pairs — the shared truth both the
#: MinHash and the SimHash candidate engines are verified against
_CHARGRAM_PAIRS_SQL = r"""
    WITH grams AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(length(text) - 8, 1) + 1, 3),
            i -> substr(text, CAST(i AS INT), 9))) AS g
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / len(list_distinct(list_concat(a.g, b.g))) >= 0.5
"""

#: the deterministic hyperplanes ann_lsh uses (dim=64, 6 planes, seed 42) —
#: rounded literals so Spark and DuckDB evaluate identical doubles
_ANN_PLANES = sim.hyperplanes(64, 6)

#: the IVF coarse quantizer ann_ivf uses (16 unit-norm centroids, seed 7)
_IVF_CENTROIDS = sim.ivf_centroids(64, 16)


def oracle_sql() -> dict[str, str]:
    ev = "events"
    out = {
        "a2_lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
                    AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
                COUNT(*) AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "j4_region_rollup": """
            SELECT r_name, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
                       AS total_price
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1
        """,
        "j2_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "j1_left_merge_coalesce": """
            SELECT c_custkey, COALESCE(n.n_name, 'Unknown') AS nation_name
            FROM customer c
            LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 10) n
              ON c.c_nationkey = n.n_nationkey
        """,
        "w1_order_rank": """
            SELECT o_orderkey, o_totalprice,
                CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                     AS INT) AS rnk
            FROM orders
        """,
        "w3_latest_event_per_user": f"""
            SELECT user_id, event_id, ts, value FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM {ev}) WHERE rn = 1
        """,
        "w4_percent_of_total": """
            SELECT c_custkey,
                ROUND(c_acctbal / CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6)))
                      OVER () AS DOUBLE) * 100, 6) AS pct_of_total
            FROM customer
        """,
        "p6_time_range": f"""
            SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
            FROM {ev}
            WHERE ts >= (SELECT max(ts) FROM {ev}) - INTERVAL 24 HOUR
            GROUP BY 1
        """,
        "j5_asof_user_value": f"""
            SELECT user_id, ts, value FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM {ev}
                WHERE ts <= (SELECT max(ts) FROM {ev}) - INTERVAL 24 HOUR
            ) WHERE rn = 1
        """,
        "j6_banded_asof": f"""
            SELECT user_id, ts, value FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM {ev}
                WHERE ts > (SELECT max(ts) FROM {ev}) - INTERVAL 49 HOUR
                  AND ts <= (SELECT max(ts) FROM {ev}) - INTERVAL 47 HOUR
            ) WHERE rn = 1
        """,
        "j7_pivot": f"""
            SELECT user_id,
                CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view
            FROM {ev} GROUP BY 1
        """,
        "o5_unpivot": f"""
            SELECT user_id, event_type, COUNT(*) AS n FROM {ev} GROUP BY 1, 2
        """,
        "o3_top5_orders": """
            SELECT o_orderkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
        """,
        "a4_two_level_rollup": """
            SELECT r_name,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
                       AS total_bal,
                   COUNT(*) AS n_customers
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1
        """,
        "a5_max_per_group": """
            SELECT o_custkey, max(o_orderdate) AS last_order
            FROM orders GROUP BY 1
        """,
        "a8_distinct": """
            SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        """,
        "f10_hourly_tumbling": f"""
            SELECT date_trunc('hour', ts) AS hour, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
            FROM {ev} GROUP BY 1, 2
        """,
        "t5_lag_change": f"""
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       SUM(CAST(value AS DECIMAL(20,6))) AS total
                FROM {ev} GROUP BY 1, 2
            ),
            lagged AS (
                SELECT event_type, hour, total,
                    COALESCE(LAG(total) OVER (PARTITION BY event_type
                                              ORDER BY hour), total) AS prev
                FROM hourly
            )
            SELECT event_type, hour, CAST(total AS DOUBLE) AS total,
                CAST(total - prev AS DOUBLE) AS change,
                ROUND(CASE WHEN CAST(prev AS DOUBLE) = 0 THEN 0
                    ELSE (CAST(total AS DOUBLE) - CAST(prev AS DOUBLE))
                         / CAST(prev AS DOUBLE) * 100 END, 6) AS pct_change
            FROM lagged
        """,
        "p10_json_projection": f"""
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM {ev}
        """,
        # -- richlist job chain -------------------------------------------
        "summary_latest": f"""
            WITH s AS ({SUMMARY_SQL})
            SELECT grouped_label, "count",
                   CAST(total_balance AS DOUBLE) AS total_balance,
                   CAST(total_escrow AS DOUBLE) AS total_escrow,
                   CAST(total_xrp AS DOUBLE) AS total_xrp, created_at
            FROM s WHERE created_at = (SELECT max(created_at) FROM s)
        """,
        "summary_series": f"""
            WITH s AS ({SUMMARY_SQL})
            SELECT grouped_label, "count",
                   CAST(total_balance AS DOUBLE) AS total_balance,
                   CAST(total_escrow AS DOUBLE) AS total_escrow,
                   CAST(total_xrp AS DOUBLE) AS total_xrp, created_at
            FROM s
        """,
        "balance_changes": _changes_sql("total_xrp"),
        "available_changes": _changes_sql("total_balance"),
        "category_changes": _dim_changes_sql("category"),
        "country_changes": _dim_changes_sql("country"),
        "category_statistics": f"""
            WITH s AS ({SUMMARY_SQL}),
            now AS (SELECT max(created_at) AS ts FROM s),
            s3 AS (SELECT * FROM s
                   WHERE created_at >= (SELECT ts FROM now) - INTERVAL 3 DAY)
            SELECT c.category AS grouped_label,
                CAST(SUM(s3."count") AS BIGINT) AS "count",
                CAST(SUM(s3.total_balance) AS DOUBLE) AS total_balance,
                CAST(SUM(s3.total_escrow) AS DOUBLE) AS total_escrow,
                CAST(SUM(s3.total_xrp) AS DOUBLE) AS total_xrp,
                date_trunc('hour', s3.created_at) AS created_at
            FROM s3 JOIN {CATS} c USING (grouped_label)
            GROUP BY 1, 6
        """,
        "country_statistics": f"""
            WITH s AS ({SUMMARY_SQL}),
            now AS (SELECT max(created_at) AS ts FROM s),
            s3 AS (SELECT * FROM s
                   WHERE created_at >= (SELECT ts FROM now) - INTERVAL 3 DAY)
            SELECT c.country AS grouped_label,
                CAST(SUM(s3."count") AS BIGINT) AS "count",
                CAST(SUM(s3.total_balance) AS DOUBLE) AS total_balance,
                CAST(SUM(s3.total_escrow) AS DOUBLE) AS total_escrow,
                CAST(SUM(s3.total_xrp) AS DOUBLE) AS total_xrp,
                date_trunc('hour', s3.created_at) AS created_at
            FROM s3 JOIN {CATS} c USING (grouped_label)
            GROUP BY 1, 6
        """,
        "available_statistics": f"""
            WITH s AS ({SUMMARY_SQL}),
            now AS (SELECT max(created_at) AS ts FROM s),
            s3 AS (SELECT * FROM s
                   WHERE created_at >= (SELECT ts FROM now) - INTERVAL 3 DAY)
            SELECT DISTINCT grouped_label, "count",
                CAST(total_balance AS DOUBLE) AS total_balance,
                CAST(total_escrow AS DOUBLE) AS total_escrow,
                CAST(total_balance AS DOUBLE) AS total_xrp,
                date_trunc('hour', created_at) AS created_at
            FROM s3
        """,
        "retention_cleanup": f"""
            SELECT snapshot_date, COUNT(*) AS n FROM {RICH}
            WHERE snapshot_date >=
                (SELECT max(snapshot_date) FROM {RICH}) - INTERVAL 2 DAY
            GROUP BY 1
        """,
        "significant_changes": f"""
            WITH ch AS ({_changes_sql("total_xrp")})
            SELECT grouped_label, balance_change AS change_1h,
                   percentage_change AS percentage_1h
            FROM ch
            WHERE hours = 1 AND balance_change IS NOT NULL
              AND ABS(percentage_change) >= 0.1
              AND ABS(balance_change) >= 1000
            ORDER BY ABS(percentage_change) DESC LIMIT 5
        """,
        "f5_canonical_label": f"""
            SELECT label, {canonical_label_sql('label')} AS grouped_label
            FROM (SELECT DISTINCT label FROM {RICH})
        """,
        "summary_with_changes": f"""
            WITH ch AS ({_changes_sql("total_xrp")}),
            s AS ({SUMMARY_SQL}),
            cur AS (SELECT * FROM s
                    WHERE created_at = (SELECT max(created_at) FROM s)),
            wide AS (
                SELECT grouped_label,
                    MAX(CASE WHEN hours=1 THEN balance_change END) AS change_1h,
                    MAX(CASE WHEN hours=1 THEN percentage_change END) AS percentage_1h,
                    MAX(CASE WHEN hours=3 THEN balance_change END) AS change_3h,
                    MAX(CASE WHEN hours=3 THEN percentage_change END) AS percentage_3h,
                    MAX(CASE WHEN hours=24 THEN balance_change END) AS change_24h,
                    MAX(CASE WHEN hours=24 THEN percentage_change END) AS percentage_24h,
                    MAX(CASE WHEN hours=168 THEN balance_change END) AS change_168h,
                    MAX(CASE WHEN hours=168 THEN percentage_change END) AS percentage_168h,
                    MAX(CASE WHEN hours=720 THEN balance_change END) AS change_720h,
                    MAX(CASE WHEN hours=720 THEN percentage_change END) AS percentage_720h
                FROM ch GROUP BY 1
            )
            SELECT cur.grouped_label, cur."count",
                CAST(cur.total_balance AS DOUBLE) AS total_balance,
                CAST(cur.total_escrow AS DOUBLE) AS total_escrow,
                CAST(cur.total_xrp AS DOUBLE) AS total_xrp,
                cur.created_at,
                wide.* EXCLUDE (grouped_label)
            FROM cur LEFT JOIN wide USING (grouped_label)
        """,
        # -- crawl engine ---------------------------------------------------
        "category_summary_wide": _dim_summary_wide_sql("category"),
        "country_summary_wide": _dim_summary_wide_sql("country"),
        "f3_drops_to_xrp": """
            SELECT o_orderkey,
                CAST(o_orderkey * 1000 + 7 AS BIGINT) AS drops,
                CAST(o_orderkey * 1000 + 7 AS DOUBLE) / 1000000 AS xrp
            FROM orders
        """,
        "f4_format_label": f"""
            WITH labels AS (SELECT DISTINCT label FROM {RICH}),
            d AS (
                SELECT label,
                    CASE WHEN length(label) % 3 = 0 THEN 'svc'
                         WHEN length(label) % 3 = 1 THEN ''
                         ELSE NULL END AS "desc"
                FROM labels
            )
            SELECT label, "desc",
                CASE WHEN label IS NULL OR label = '' OR label = 'Unknown'
                        THEN 'Unknown'
                     WHEN "desc" IS NOT NULL AND "desc" != ''
                        THEN label || ' (' || "desc" || ')'
                     ELSE label END AS formatted
            FROM d
        """,
        "p9_enum_check": f"""
            SELECT category, COUNT(*) AS n,
                category IN ('Major Contributor', 'Exchange',
                    'Casino/Gambling', 'Payment Service', 'DeFi Protocol',
                    'Trading Service', 'NFT/Gaming', 'Custody/Institution',
                    'Individual', 'Other') AS is_valid
            FROM {CATS} GROUP BY 1
        """,
        "alert_lines": f"""
            WITH ch AS ({_changes_sql("total_xrp")}),
            sig AS (
                SELECT grouped_label, balance_change AS change_1h,
                       percentage_change AS percentage_1h
                FROM ch
                WHERE hours = 1 AND balance_change IS NOT NULL
                  AND ABS(percentage_change) >= 0.1
                  AND ABS(balance_change) >= 1000
                ORDER BY ABS(percentage_change) DESC LIMIT 5
            )
            SELECT grouped_label, change_1h, percentage_1h,
                grouped_label || ': '
                || CASE WHEN change_1h >= 0 THEN '+' ELSE '' END
                || format('{{:,}}', CAST(round(change_1h) AS BIGINT))
                || ' XRP ('
                || CASE WHEN percentage_1h >= 0 THEN '+' ELSE '' END
                || printf('%.2f', round(percentage_1h, 2))
                || '%)' AS line
            FROM sig
        """,
        "crawl_round1": f"""
            SELECT rank, url, host, depth, fetch_ok, n_links, text
            FROM {G_ROUND1}
        """,
        "crawl_seen_after3": f"SELECT url FROM {G_SEEN3}",
        "trustline_rich_list": f"""
            WITH lines AS (
                SELECT
                    json_extract_string(payload, '$.specification.counterparty')
                        AS address,
                    abs(CAST(json_extract_string(payload, '$.state.balance')
                             AS DOUBLE)) AS balance_rlusd,
                    json_extract_string(payload, '$.counterparty.limit')
                        AS trust_limit,
                    COALESCE(CAST(json_extract_string(
                        payload, '$.counterparty.ripplingDisabled')
                        AS BOOLEAN), FALSE) AS rippling_disabled
                FROM read_parquet('{REPO}/data/crawl_sf0.01/trustlines.parquet')
                WHERE json_extract_string(payload, '$.specification.currency')
                    = '524C555344000000000000000000000000000000'
            ),
            pos AS (SELECT * FROM lines WHERE balance_rlusd > 0),
            tot AS (SELECT CAST(SUM(CAST(balance_rlusd AS DECIMAL(20,6)))
                                AS DOUBLE) AS t FROM pos)
            SELECT CAST(ROW_NUMBER() OVER (
                        ORDER BY balance_rlusd DESC, address) AS INT) AS rank,
                address, balance_rlusd, trust_limit,
                ROUND(balance_rlusd / (SELECT t FROM tot) * 100, 6)
                    AS percentage,
                rippling_disabled
            FROM pos
        """,
        "url_canonicalization": _CANON_SQL.format(src=PAGES),
        "politeness_assignment": _POLITENESS_SQL,
        "robots_denied": f"""
            WITH seeds AS (
                SELECT url,
                    lower(split_part(split_part(url, '://', 2), '/', 1)) AS host,
                    substr(split_part(url, '://', 2),
                           strpos(split_part(url, '://', 2), '/')) AS path
                FROM {SEEDS}
            )
            SELECT url FROM seeds s JOIN {ROBOTS} r USING (host)
            WHERE len(list_filter(r.disallow_prefixes,
                                  p -> starts_with(s.path, p))) > 0
        """,
        # -- training-data ops ----------------------------------------------
        "dedup_exact": """
            SELECT doc_id, md5(text) AS content_md5 FROM documents d
            WHERE doc_id = (SELECT min(doc_id) FROM documents d2
                            WHERE md5(d2.text) = md5(d.text))
        """,
        "text_quality": r"""
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0b]+')) END
                    AS n_tokens,
                length(text) AS n_chars,
                ROUND(CASE WHEN trim(text) = '' THEN 0.0 ELSE
                    CAST(length(regexp_replace(trim(text), '[ \t\n\r\f\x0b]+', '', 'g')) AS DOUBLE)
                    / len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0b]+')) END, 6)
                    AS avg_token_len,
                ROUND(CASE WHEN length(text) = 0 THEN 0.0 ELSE
                    CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\r\f\x0b]', '', 'g')) AS DOUBLE)
                    / length(text) END, 6) AS punct_ratio,
                ROUND(CASE WHEN len(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0b]+')) = 0
                    THEN 0.0 ELSE
                    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                        t -> t IN ('the','of','and','a','to','in','is','it','you',
                                   'that','he','was','for','on','are','with','as',
                                   'i','his','they'))) AS DOUBLE)
                    / len(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0b]+')) END, 6)
                    AS stopword_ratio
            FROM documents
        """,
        "token_counts_by_lang": r"""
            SELECT lang,
                CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0b]+')) END)
                    AS BIGINT) AS total_tokens,
                COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "bpe_token_counts": r"""
            WITH per_doc AS (
                SELECT lang,
                    len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]')) AS n_bpe,
                    CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0b]+'))
                    END AS n_ws
                FROM documents
            )
            SELECT lang,
                CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
                CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
                ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6)
                    AS bpe_per_ws,
                COUNT(*) AS n_docs
            FROM per_doc GROUP BY 1
        """,
        "doc_fingerprints": r"""
            SELECT doc_id, md5(text) AS md5,
                md5(array_to_string(
                    list_sort(list_distinct(
                        regexp_split_to_array(lower(text), '[ \t\n\r\f\x0b]+'))), ' '))
                    AS tokenset_md5
            FROM documents
        """,
        "ann_bruteforce": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                         FROM embeddings),
            q AS (SELECT vec_id AS q_id, embedding AS q_vec
                  FROM emb WHERE vec_id < 5),
            scored AS (
                SELECT q.q_id, e.vec_id,
                    list_cosine_similarity(e.embedding, q.q_vec) AS cosine
                FROM emb e CROSS JOIN q
                WHERE e.vec_id != q.q_id
            ),
            ranked AS (
                SELECT q_id, vec_id, cosine, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
                FROM scored
            )
            SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine,
                   CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_neardups": """
            WITH emb AS (SELECT vec_id, label,
                                CAST(embedding AS DOUBLE[]) AS embedding
                         FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                ROUND(list_cosine_similarity(a.embedding, b.embedding), 6)
                    AS cosine
            FROM emb a JOIN emb b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        """,
        "embedding_neardups_lsh": f"""
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                         FROM embeddings),
            bkted AS (
                SELECT vec_id, embedding,
                       {sim.bucket_sql('embedding', _ANN_PLANES)} AS bkt
                FROM emb
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                ROUND(list_cosine_similarity(a.embedding, b.embedding), 6)
                    AS cosine
            FROM bkted a JOIN bkted b
              ON a.bkt = b.bkt AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.2
        """,
        "corpus_curation": rf"""
            WITH pairs AS ({_CHARGRAM_PAIRS_SQL}),
            near_ids AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
            base AS (
                SELECT doc_id,
                    {ts.lang_id_sql('text')} AS lang_pred,
                    CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0b]+'))
                        END AS n_tokens,
                    ROUND(CASE WHEN length(text) = 0 THEN 0.0 ELSE
                        CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\r\f\x0b]',
                                                   '', 'g')) AS DOUBLE)
                        / length(text) END, 6) AS punct_ratio,
                    doc_id != MIN(doc_id) OVER (PARTITION BY md5(text))
                        AS is_exact_dup
                FROM documents
            )
            SELECT b.doc_id, b.lang_pred, b.n_tokens, b.punct_ratio,
                b.is_exact_dup,
                (n.doc_id IS NOT NULL) AS is_near_dup,
                (NOT b.is_exact_dup AND n.doc_id IS NULL
                 AND b.n_tokens >= 10 AND b.punct_ratio <= 0.3) AS keep
            FROM base b LEFT JOIN near_ids n USING (doc_id)
        """,
        "media_plumbing": """
            SELECT doc_id AS media_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                CAST(octet_length(encode(text)) AS INT) AS n_bytes
            FROM documents
        """,
        "media_frames": """
            WITH media AS (
                SELECT doc_id AS media_id, encode(text) AS payload
                FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
            ),
            nums AS (
                -- DuckDB has no BLOB substring: slice in hex space instead
                -- (2 chars per byte, alignment preserved)
                SELECT media_id, hex(payload) AS ph,
                    unnest(range(0, CAST(ceil(greatest(octet_length(payload),
                                                       1) / 64.0) AS BIGINT)))
                        AS fno
                FROM media
            )
            SELECT media_id, CAST(fno AS INT) AS frame_no,
                CAST(length(substring(ph, CAST(fno * 128 + 1 AS INT), 128))
                     / 2 AS INT) AS n_bytes,
                substring(ph, CAST(fno * 128 + 1 AS INT), 128) AS frame_hex
            FROM nums
        """,
        "f1_parse_amounts": f"""
            SELECT cell_id,
                COALESCE(CASE WHEN trim(replace(replace(amount_text, 'XRP', ''),
                                               ',', '')) IN ('', '-') THEN 0.0
                    ELSE TRY_CAST(trim(replace(replace(amount_text, 'XRP', ''),
                                               ',', '')) AS DOUBLE) END, 0.0)
                    AS amount,
                COALESCE(CASE WHEN trim(replace(pct_text, '%', '')) IN ('', '-')
                    THEN 0.0
                    ELSE TRY_CAST(trim(replace(pct_text, '%', '')) AS DOUBLE) END,
                    0.0) AS pct
            FROM read_parquet('{REPO}/data/crawl_sf0.01/amounts.parquet')
        """,
        "f11_interval_shift": """
            SELECT event_id,
                ts - INTERVAL 70 MINUTE AS band_lo,
                ts - INTERVAL 45 MINUTE AS band_hi,
                ts + INTERVAL 3 HOUR AS plus_3h
            FROM events
        """,
        "w2_summary_view_id": f"""
            WITH s AS ({{SUMMARY_SQL}})
            SELECT grouped_label,
                CAST(total_xrp AS DOUBLE) AS total_xrp,
                CAST(ROW_NUMBER() OVER (ORDER BY total_xrp DESC, grouped_label)
                     AS INT) AS id
            FROM s WHERE created_at = (SELECT max(created_at) FROM s)
        """.format(SUMMARY_SQL=SUMMARY_SQL),
        "ann_ivf": f"""
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                         FROM embeddings),
            scored_emb AS (
                SELECT vec_id, embedding,
                    {sim.centroid_scores_sql('embedding', _IVF_CENTROIDS)} AS s
                FROM emb
            ),
            celled AS (
                SELECT vec_id, embedding,
                    CAST(list_position(s, list_max(s)) AS INT) AS cell
                FROM scored_emb
            ),
            q AS (SELECT vec_id AS q_id, embedding AS q_vec, s
                  FROM scored_emb WHERE vec_id < 5),
            q_cells AS (
                SELECT q_id, q_vec, CAST(t.range AS INT) AS cell,
                    ROW_NUMBER() OVER (
                        PARTITION BY q_id
                        ORDER BY s[CAST(t.range AS INT)] DESC, t.range ASC
                    ) AS rn
                FROM q, range(1, 17) t
            ),
            probes AS (SELECT q_id, q_vec, cell FROM q_cells WHERE rn <= 2),
            cand AS (
                SELECT p.q_id, e.vec_id,
                    list_cosine_similarity(e.embedding, p.q_vec) AS cosine
                FROM celled e JOIN probes p USING (cell)
                WHERE e.vec_id != p.q_id
            ),
            ranked AS (
                SELECT q_id, vec_id, cosine, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
                FROM cand
            )
            SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine,
                   CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "recrawl_schedule": r"""
            WITH hist AS (
                SELECT user_id AS url_key, ts AS fetch_ts, event_id,
                    CAST(FLOOR(value / 25.0) AS BIGINT) AS content_hash
                FROM events
            ),
            flagged AS (
                SELECT url_key, fetch_ts, content_hash,
                    (lag(content_hash) OVER w IS NULL
                     OR content_hash != lag(content_hash) OVER w)
                        AS changed,
                    ROW_NUMBER() OVER w AS rn
                FROM hist
                WINDOW w AS (PARTITION BY url_key
                             ORDER BY fetch_ts, event_id)
            ),
            agg AS (
                SELECT url_key,
                    MAX(fetch_ts) AS last_fetch_ts,
                    CAST(COUNT(*) AS BIGINT) AS n_fetches,
                    CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_changes,
                    MAX(CASE WHEN changed THEN rn END) AS lcrn
                FROM flagged GROUP BY url_key
            ),
            staged AS (
                SELECT url_key, last_fetch_ts, n_fetches, n_changes,
                    CAST(n_fetches - lcrn AS INT) AS trailing_unchanged,
                    LEAST(CAST(2592000 AS BIGINT),
                          CAST(3600 AS BIGINT)
                          * (CAST(1 AS BIGINT)
                             << LEAST(CAST(n_fetches - lcrn AS INT), 20)))
                        AS interval_s
                FROM agg
            )
            SELECT url_key, last_fetch_ts, n_fetches, n_changes,
                trailing_unchanged, interval_s,
                last_fetch_ts + to_seconds(interval_s) AS next_fetch_ts,
                (last_fetch_ts + to_seconds(interval_s)
                 <= TIMESTAMP '2024-03-01 00:00:00') AS due
            FROM staged
        """,
        "mixture_sample": r"""
            WITH base AS (
                SELECT doc_id, source,
                    CAST(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text),
                                  '[ \t\n\r\f\x0b]+'))
                        END AS INT) AS n_tokens
                FROM documents
            ),
            w AS (
                SELECT 'src0' AS source, CAST(0.4 AS DOUBLE) AS w
                UNION ALL SELECT 'src1', CAST(0.3 AS DOUBLE)
                UNION ALL SELECT 'src2', CAST(0.2 AS DOUBLE)
                UNION ALL SELECT 'src3', CAST(0.1 AS DOUBLE)
            ),
            avail AS (
                SELECT b.source, SUM(b.n_tokens) AS avail,
                       any_value(w.w) AS w
                FROM base b JOIN w USING (source) GROUP BY b.source
            ),
            t AS (SELECT MIN(avail / w) AS T FROM avail),
            rates AS (
                SELECT source,
                    LEAST(1.0, w * (SELECT T FROM t) / avail) AS rate
                FROM avail
            ),
            scored AS (
                SELECT b.doc_id, b.source, b.n_tokens,
                    COALESCE(r.rate, 0.0) AS rate0,
                    CAST(CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)
                        || ':20260817'), 1, 8) AS UBIGINT) AS DOUBLE)
                        / 4294967296.0 AS u
                FROM base b LEFT JOIN rates r USING (source)
            )
            SELECT doc_id, source, n_tokens,
                ROUND(rate0, 6) AS rate, u, u < rate0 AS sampled
            FROM scored
        """,
        "url_traps": r"""
            WITH urls AS (
                SELECT doc_id,
                    'https://h' || CAST(doc_id % 53 AS VARCHAR)
                        || '.example.com' ||
                    CASE CAST(doc_id % 5 AS INT)
                      WHEN 0 THEN CASE WHEN doc_id % 10 = 5
                            THEN '/long/' || repeat('z', 600)
                            ELSE '/a/' || CAST(doc_id % 100 AS VARCHAR) END
                      WHEN 1 THEN '/d' || CAST(doc_id % 7 AS VARCHAR)
                            || '/s0/s1/s2/s3/s4/s5/s6/s7/s8/s9/s10/s11'
                      WHEN 2 THEN '/cal/cal/cal/x'
                      WHEN 3 THEN '/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8'
                      ELSE '/blog/2024/01/0' || CAST(doc_id % 10 AS VARCHAR)
                            || '/why-i-crawl/page/2/extra'
                    END AS url
                FROM documents
            ),
            pqs AS (
                SELECT doc_id, url,
                    regexp_replace(url,
                        '^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*', '') AS pq
                FROM urls
            ),
            parts AS (
                SELECT doc_id, url,
                    split_part(pq, '?', 1) AS path,
                    split_part(pq, '?', 2) AS raw_q
                FROM pqs
            ),
            segged AS (
                SELECT doc_id, url, path, raw_q,
                    list_filter(string_split(path, '/'),
                                x -> x <> '') AS segs
                FROM parts
            )
            SELECT doc_id,
                CAST(len(segs) AS INT) AS path_depth,
                CAST(len(segs) - len(list_distinct(segs)) AS INT)
                    AS n_repeat,
                CAST(CASE WHEN raw_q = '' THEN 0
                     ELSE len(list_filter(string_split(raw_q, '&'),
                                          x -> x <> '')) END AS INT)
                    AS n_params,
                regexp_matches(path, '/(19|20)[0-9][0-9]/[0-9]{1,2}(/|$)')
                    AS has_calendar,
                CAST(length(url) AS INT) AS url_len,
                (CAST(len(segs) AS INT) > 8
                 OR len(segs) - len(list_distinct(segs)) >= 2
                 OR (CASE WHEN raw_q = '' THEN 0
                     ELSE len(list_filter(string_split(raw_q, '&'),
                                          x -> x <> '')) END) > 6
                 OR (regexp_matches(path,
                        '/(19|20)[0-9][0-9]/[0-9]{1,2}(/|$)')
                     AND len(segs) > 4)
                 OR length(url) > 512) AS is_trap
            FROM segged
        """,
        "semdedup": f"""
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                         FROM embeddings),
            scored AS (
                SELECT vec_id, embedding,
                    {sim.centroid_scores_sql('embedding', _IVF_CENTROIDS)} AS s
                FROM emb
            ),
            celled AS (
                SELECT vec_id, embedding,
                    CAST(list_position(s, list_max(s)) AS INT) AS cell
                FROM scored
            ),
            dups AS (
                SELECT DISTINCT b.vec_id
                FROM celled a JOIN celled b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3
            )
            SELECT c.vec_id, c.cell,
                   (d.vec_id IS NOT NULL) AS is_semantic_dup
            FROM celled c LEFT JOIN dups d USING (vec_id)
        """,
        "token_jaccard_pairs": r"""
            WITH toks AS (
                SELECT doc_id,
                    list_distinct(regexp_split_to_array(lower(text), '[ \t\n\r\f\x0b]+')) AS t
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                ROUND(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.t, b.t))) >= 0.8
        """,
        # round-1's four rows-only queries, now exactly oracle-checkable:
        # minhash/simhash emit pairs verified with EXACT char-9-gram Jaccard
        # (candidate recall proven on the bimodal fixture), lang_id is pure
        # Column ops with a CASE twin, ann_lsh's hyperplane buckets are
        # literal-plane expressions both engines evaluate identically.
        "minhash_neardups": _CHARGRAM_PAIRS_SQL,
        "simhash_neardups": _CHARGRAM_PAIRS_SQL,
        "neardup_components": r"""
            WITH RECURSIVE grams AS (
                SELECT doc_id, list_distinct(list_transform(
                    range(1, greatest(length(text) - 8, 1) + 1, 3),
                    i -> substr(text, CAST(i AS INT), 9))) AS g
                FROM documents
            ),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM grams a JOIN grams b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.g, b.g))) >= 0.5
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(id, comp) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS component,
                   MIN(comp) = id AS is_canonical
            FROM reach GROUP BY id
        """,
        "lang_id": f"""
            SELECT doc_id, {ts.lang_id_sql('text')} AS lang_pred
            FROM documents
        """,
        "ann_lsh": f"""
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                         FROM embeddings),
            bkted AS (
                SELECT vec_id, embedding,
                       {sim.bucket_sql('embedding', _ANN_PLANES)} AS bkt
                FROM emb
            ),
            q AS (SELECT vec_id AS q_id, embedding AS q_vec, bkt
                  FROM bkted WHERE vec_id < 5),
            scored AS (
                SELECT q.q_id, e.vec_id,
                    list_cosine_similarity(e.embedding, q.q_vec) AS cosine
                FROM bkted e JOIN q USING (bkt)
                WHERE e.vec_id != q.q_id
            ),
            ranked AS (
                SELECT q_id, vec_id, cosine, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
                FROM scored
            )
            SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine,
                   CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
    }
    # the capped plan must reproduce the EXACT all-pairs answer — same
    # oracle as the uncapped pass, so any recall loss from star-collapse
    # or salt-split fails the hash gate loudly
    out["corpus_curation_capped"] = out["corpus_curation"]
    # robots.txt builder: e'…' escape strings give DuckDB the same real
    # newlines Python string literals give Spark; every regex is the
    # RE2/Java-portable grammar from operators/politeness.py
    # REP pattern -> anchored regex, the SQL twin of
    # politeness.robots_rule_regex (escape metachars, * -> .*, trailing
    # $ -> anchor). DuckDB regexp_replace needs the explicit 'g' flag.
    def _rep_regex_sql(var: str) -> str:
        return (
            "'^' || regexp_replace(regexp_replace(regexp_replace("
            + var
            + r""", '([\\.\+\?\(\)\[\]\{\}\|\^\$])', '\\\1', 'g'),"""
            + r""" '\*', '.*', 'g'), '\\\$$', '$')"""
        )

    def _rep_best_sql(arr: str) -> str:
        return (
            f"COALESCE(list_max(list_transform({arr}, p -> CASE WHEN "
            f"regexp_matches(path, {_rep_regex_sql('p')}) "
            "THEN CAST(length(p) AS INT) ELSE -1 END)), -1)"
        )

    out["robots_wildcard_gate"] = rf"""
        WITH raw AS (
            SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
                doc_id,
                CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN
                        e'User-agent: *\nDisallow: /p*/x$\nAllow: /public\n'
                    WHEN 1 THEN
                        e'User-agent: *\nDisallow: /a\nAllow: /a/open*\n'
                    WHEN 2 THEN e'User-agent: *\nDisallow: /\nAllow: /$\n'
                    ELSE '' END AS robots_txt
            FROM documents WHERE doc_id < 48
        ),
        parsed AS (
            SELECT host, doc_id,
                (list_filter(
                    regexp_split_to_array(robots_txt, '(?i)user-agent:'),
                    s -> regexp_matches(s, '^[ \t]*\*[ \t]*(\r\n|\n|$)')
                ))[1] AS sec
            FROM raw
        ),
        shaped AS (
            SELECT host, doc_id,
                sec IS NOT NULL AS has_rules,
                COALESCE(regexp_extract_all(
                    sec, '(?i)disallow:[ \t]*([^ \t\r\n]+)', 1), []) AS dis,
                COALESCE(regexp_extract_all(
                    sec, '(?im)^[ \t]*allow:[ \t]*([^ \t\r\n]+)', 1), [])
                    AS al
            FROM parsed
        ),
        pathed AS (
            SELECT host, has_rules, al, dis,
                (['/pA/q/x', '/public/z', '/a/open/1', '/a/closed', '/',
                  '/idx'])[CAST(doc_id % 6 AS INT) + 1] AS path
            FROM shaped
        )
        SELECT host, path, has_rules,
            CAST(len(al) AS INT) AS n_allow,
            CAST(len(dis) AS INT) AS n_disallow,
            {_rep_best_sql('al')} >= {_rep_best_sql('dis')} AS allowed
        FROM pathed
    """
    # C4 cleaning: the SQL twin rebuilds the same appended-line fixture
    # and applies the identical rule set (portable whitespace class via
    # e-string; curly-quote terminal class; raw-text page kills)
    out["c4_line_clean"] = r"""
        WITH synth AS (
            SELECT doc_id,
                text || chr(10) ||
                CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'Tiny line.'
                    WHEN 1 THEN 'Enable javascript to continue please.'
                    WHEN 2 THEN 'no punctuation ending line'
                    ELSE 'A quoted closing line”' END
                || chr(10) ||
                CASE CAST(doc_id % 5 AS INT)
                    WHEN 0 THEN 'if (x) { return; }'
                    WHEN 1 THEN 'Lorem Ipsum filler text here.'
                    ELSE 'This closing sentence is long enough.' END
                AS text
            FROM documents
        ),
        kept AS (
            SELECT doc_id, text,
                string_split(text, chr(10)) AS ls,
                list_filter(string_split(text, chr(10)), l ->
                    regexp_matches(trim(l), '[.!?"”]$')
                    AND len(list_filter(
                        regexp_split_to_array(trim(l), e'[ \t\f\x0b]+'),
                        w -> w != '')) >= 3
                    AND NOT contains(lower(trim(l)), 'javascript')
                ) AS kl
            FROM synth
        ),
        cleaned AS (
            -- duckdb's array_to_string([]) is NULL where spark's
            -- array_join([]) is '' — coalesce to the spark semantics
            SELECT doc_id, text, ls, kl,
                COALESCE(array_to_string(kl, chr(10)), '') AS clean_text
            FROM kept
        )
        SELECT doc_id,
            CAST(len(ls) AS INT) AS n_lines,
            CAST(len(kl) AS INT) AS n_lines_kept,
            CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INT)
                AS n_sentences,
            clean_text,
            (len(regexp_extract_all(clean_text, '[.!?]')) >= 5
             AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{')) AS keep
        FROM cleaned
    """
    # WARC round trip: the oracle reconstructs the parsed output straight
    # from documents — the Spark side only matches if build_warc's ISO
    # 28500 framing and parse_warc_df's Content-Length walk are both
    # exact (octet arithmetic over multi-byte utf-8 payloads included)
    out["warc_roundtrip"] = r"""
        SELECT
            'w' || CAST(CAST(doc_id % 8 AS INT) AS VARCHAR) || '.warc'
                AS warc_file,
            'https://w' || CAST(doc_id AS VARCHAR) || '.example.org/p'
                AS url,
            '2024-01-0' || CAST(CAST(doc_id % 9 + 1 AS INT) AS VARCHAR)
                || 'T00:00:00Z' AS warc_date,
            CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 200 WHEN 1 THEN 301 ELSE 404 END AS INT)
                AS http_status,
            CASE WHEN doc_id % 2 = 0 THEN 'text/html'
                 ELSE 'text/plain' END AS mime,
            CAST(octet_length(encode(text)) AS INT) AS n_bytes,
            text
        FROM documents WHERE doc_id < 64
    """
    # CDXJ round trip: the oracle rebuilds every field including the
    # SURT key by hand (lowercase + comma-reversed host), so surt_col,
    # the JSON framing, and the 14-digit ts format must all be exact
    out["cdx_roundtrip"] = r"""
        SELECT
            'org,example,sub' || CAST(doc_id AS VARCHAR) || ')/p/'
                || CAST(doc_id AS VARCHAR) || '?q='
                || CAST(CAST(doc_id % 7 AS INT) AS VARCHAR) AS surt,
            TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id)
                AS capture_ts,
            'https://Sub' || CAST(doc_id AS VARCHAR) || '.Example.org/P/'
                || CAST(doc_id AS VARCHAR) || '?q='
                || CAST(CAST(doc_id % 7 AS INT) AS VARCHAR) AS url,
            CASE WHEN doc_id % 2 = 0 THEN 'text/html'
                 ELSE 'application/pdf' END AS mime,
            CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 200 WHEN 1 THEN 301 ELSE 404 END AS INT)
                AS http_status,
            md5(text) AS digest,
            CAST(octet_length(encode(text)) AS BIGINT) AS length,
            CAST(doc_id * 1000 AS BIGINT) AS "offset",
            'w' || CAST(CAST(doc_id % 8 AS INT) AS VARCHAR) || '.warc.gz'
                AS warc_filename
        FROM documents WHERE doc_id < 200
    """
    # anchor extraction: direct reconstruction from the synthesis
    # arithmetic (3 anchors per doc; the space-only anchor trims to '')
    out["anchor_texts"] = r"""
        SELECT doc_id, CAST(0 AS INT) AS link_no,
            'https://t' || CAST(doc_id AS VARCHAR) || '.org/a' AS url,
            'Anchor ' || CAST(doc_id AS VARCHAR) AS anchor
        FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id, CAST(1 AS INT),
            '/rel/' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR),
            'rel text ' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR)
        FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id, CAST(2 AS INT), 'spacer', ''
        FROM documents WHERE doc_id < 300
    """
    # deterministic HLL: the twin rebuilds the registers (60-bit md5-hex
    # hash, base-2 digit-count rho), the exact-integer harmonic sum, and
    # the alpha/linear-counting estimate — m=4096, width=48, alpha as
    # the same literal-arithmetic double
    out["hll_host_distinct"] = r"""
        WITH hashed AS (
            SELECT CAST(user_id % 20 AS BIGINT) AS host,
                CAST(CAST('0x' || substr(
                    md5(CAST(event_id AS VARCHAR)), 1, 15
                ) AS UBIGINT) AS BIGINT) AS h
            FROM events
        ),
        regs AS (
            SELECT host, h % 4096 AS bucket,
                MAX(CASE WHEN (h >> 12) = 0 THEN 49
                    ELSE 48 - length(to_base(h >> 12, 2)) + 1 END) AS rho
            FROM hashed GROUP BY host, h % 4096
        ),
        agg AS (
            SELECT host,
                CAST(COUNT(*) AS INT) AS used_buckets,
                SUM(CAST(1 AS BIGINT) << (49 - rho)) AS nz_sum
            FROM regs GROUP BY host
        ),
        staged AS (
            SELECT host, used_buckets,
                nz_sum + (4096 - used_buckets)
                    * (CAST(1 AS BIGINT) << 49) AS int_sum
            FROM agg
        )
        SELECT host, used_buckets, int_sum,
            ROUND(CASE
                WHEN (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0
                     * 562949953421312.0 / CAST(int_sum AS DOUBLE)
                     <= 2.5 * 4096
                 AND used_buckets < 4096
                THEN 4096.0 * ln(4096.0
                    / CAST(4096 - used_buckets AS DOUBLE))
                ELSE (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0
                     * 562949953421312.0 / CAST(int_sum AS DOUBLE)
            END, 4) AS est_distinct
        FROM staged
    """
    # count-min: the twin rebuilds the depth-seeded 60-bit hashes
    # ('j:' || token), the (depth, bucket) counter sums, and the
    # min-over-depth probe lookups (absent buckets coalesce to 0)
    out["cm_token_counts"] = r"""
        WITH toks AS (
            SELECT t AS token FROM (
                SELECT unnest(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+')) AS t
                FROM documents) WHERE t <> ''
        ),
        depths AS (SELECT unnest([0, 1, 2, 3]) AS depth),
        counters AS (
            SELECT depth,
                CAST(CAST('0x' || substr(md5(
                    CAST(depth AS VARCHAR) || ':' || token
                ), 1, 15) AS UBIGINT) AS BIGINT) % 2048 AS bucket,
                COUNT(*) AS cnt
            FROM toks CROSS JOIN depths GROUP BY 1, 2
        ),
        probes AS (SELECT unnest(['join', 'hash', 'scan', 'query',
                                  'window', 'spark', 'zz-absent']) AS token),
        pcells AS (
            SELECT token, depth,
                CAST(CAST('0x' || substr(md5(
                    CAST(depth AS VARCHAR) || ':' || token
                ), 1, 15) AS UBIGINT) AS BIGINT) % 2048 AS bucket
            FROM probes CROSS JOIN depths
        )
        SELECT token, MIN(COALESCE(cnt, 0)) AS est_count
        FROM pcells LEFT JOIN counters USING (depth, bucket)
        GROUP BY token
    """
    # BM25: per-term doubles recomputed from the same exact integers
    # (tf, dft, N, dl); the float literal 2.2 is spelled (1.2 + 1.0) so
    # both engines evaluate the identical IEEE sum Spark's F.lit(k1+1.0)
    # bakes in; the per-doc sum happens in micro-unit BIGINTs
    out["bm25_topk"] = r"""
        WITH exploded AS (
            SELECT doc_id, unnest(regexp_split_to_array(
                lower(trim(text)), '[ \t\n\r\f\x0b]+')) AS token
            FROM documents
        ),
        postings AS (
            SELECT token, doc_id, COUNT(*) AS tf FROM exploded
            WHERE token <> '' GROUP BY token, doc_id
        ),
        lens AS (
            SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(
                lower(trim(text)), '[ \t\n\r\f\x0b]+'), t -> t <> ''))
                AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (
            SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM lens
        ),
        matched AS (
            SELECT * FROM postings
            WHERE token IN ('merge', 'spark', 'vector', 'window')
        ),
        dfreq AS (
            SELECT token, COUNT(*) AS dft FROM matched GROUP BY token
        ),
        scored AS (
            SELECT m.doc_id,
                CAST(ROUND(
                    ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5))
                    * m.tf * (1.2 + 1.0)
                    / (m.tf + 1.2 * (0.25 + 0.75 * l.dl
                        / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                    * 1000000.0) AS BIGINT) AS s_micro
            FROM matched m
            JOIN dfreq d USING (token)
            JOIN lens l USING (doc_id)
            CROSS JOIN stats s
        )
        SELECT doc_id, SUM(s_micro) AS score_micro,
            SUM(s_micro) / 1000000.0 AS score,
            COUNT(*) AS n_matched
        FROM scored GROUP BY doc_id
        ORDER BY score_micro DESC, doc_id LIMIT 15
    """
    # HDR histogram: the twin rebuilds the integer binning (fixed-point,
    # base-2 digit-count msb, m - m % 2^shift lower bound), the per-key
    # cumulative ranks, and the ceil(q*total) quantile cuts
    out["hdr_value_quantiles"] = r"""
        WITH fp AS (
            SELECT event_type AS key,
                GREATEST(CAST(ROUND(value * 1048576.0) AS BIGINT),
                         CAST(0 AS BIGINT)) AS m
            FROM events
        ),
        binned AS (
            SELECT key,
                m - m % CAST(power(2.0, GREATEST(
                    length(to_base(m, 2)) - 7, 0)) AS BIGINT) AS bin
            FROM fp
        ),
        bins AS (
            SELECT key, bin, COUNT(*) AS cnt FROM binned GROUP BY key, bin
        ),
        cum AS (
            SELECT key, bin,
                SUM(cnt) OVER (PARTITION BY key ORDER BY bin) AS cum,
                SUM(cnt) OVER (PARTITION BY key) AS total
            FROM bins
        )
        SELECT key AS event_type,
            COUNT(*) AS n_bins,
            MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN bin END)
                / 1048576.0 AS q50,
            MIN(CASE WHEN cum >= CEIL(0.95 * total) THEN bin END)
                / 1048576.0 AS q95,
            MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN bin END)
                / 1048576.0 AS q99
        FROM cum GROUP BY key
    """
    # redirect resolution: the twin single-steps a recursive CTE to the
    # same 8-hop cap — pointer doubling must agree with it exactly
    out["resolve_redirects"] = r"""
        WITH RECURSIVE edges AS (
            SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                   'u' || CAST(doc_id + 1 AS VARCHAR) AS redirect_to
            FROM documents WHERE doc_id < 400 AND doc_id % 4 <> 3
            UNION ALL
            SELECT 'u' || CAST(doc_id AS VARCHAR),
                   'u' || CAST(400 + (doc_id - 399) % 10 AS VARCHAR)
            FROM documents WHERE doc_id >= 400 AND doc_id < 410
        ),
        walk AS (
            SELECT url AS src, redirect_to AS cur, 1 AS hops FROM edges
            UNION ALL
            SELECT w.src, e.redirect_to, w.hops + 1
            FROM walk w JOIN edges e ON w.cur = e.url
            WHERE w.hops < 8
        ),
        resolved AS (
            SELECT w.src, w.cur, w.hops FROM walk w
            WHERE NOT EXISTS (
                SELECT 1 FROM edges e WHERE e.url = w.cur)
        )
        SELECT e.url, r.cur AS final_url,
            CAST(r.hops AS BIGINT) AS n_hops,
            r.src IS NOT NULL AS terminal
        FROM edges e LEFT JOIN resolved r ON r.src = e.url
    """
    # incremental postings: the twin rebuilds both snapshots' digests,
    # the delta-id sets, and the postings over just the delta slices
    out["postings_delta"] = r"""
        WITH prev AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 400
        ),
        cur AS (
            SELECT doc_id,
                CASE WHEN doc_id % 9 = 0 THEN text || ' extraupdate'
                     ELSE text END AS text
            FROM documents WHERE doc_id >= 30
        ),
        del_ids AS (
            SELECT p.doc_id FROM prev p LEFT JOIN cur c USING (doc_id)
            WHERE c.doc_id IS NULL OR md5(p.text) <> md5(c.text)
        ),
        add_ids AS (
            SELECT c.doc_id FROM cur c LEFT JOIN prev p USING (doc_id)
            WHERE p.doc_id IS NULL OR md5(p.text) <> md5(c.text)
        ),
        dels AS (
            SELECT 'del' AS op, token, doc_id, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+')) AS token
                FROM prev
                WHERE doc_id IN (SELECT doc_id FROM del_ids)
            ) WHERE token <> '' GROUP BY token, doc_id
        ),
        adds AS (
            SELECT 'add' AS op, token, doc_id, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+')) AS token
                FROM cur
                WHERE doc_id IN (SELECT doc_id FROM add_ids)
            ) WHERE token <> '' GROUP BY token, doc_id
        )
        SELECT * FROM dels UNION ALL SELECT * FROM adds
    """
    # table profiler: the twin rebuilds the one-pass counts, the melted
    # per-column HLL (registers → exact-integer state → estimate), and
    # the melted numeric HDR histogram (bins → cum ranks → quantiles)
    out["profile_events"] = r"""
        WITH counts AS (
            SELECT 'event_id' AS col, COUNT(*) AS n_rows,
                SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                    AS n_null FROM events
            UNION ALL
            SELECT 'user_id', COUNT(*),
                SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                FROM events
            UNION ALL
            SELECT 'event_type', COUNT(*),
                SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                FROM events
            UNION ALL
            SELECT 'value', COUNT(*),
                SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                FROM events
        ),
        melted AS (
            SELECT 'event_id' AS key, CAST(event_id AS VARCHAR) AS v
            FROM events WHERE event_id IS NOT NULL
            UNION ALL
            SELECT 'user_id', CAST(user_id AS VARCHAR)
            FROM events WHERE user_id IS NOT NULL
            UNION ALL
            SELECT 'event_type', event_type
            FROM events WHERE event_type IS NOT NULL
            UNION ALL
            SELECT 'value', CAST(value AS VARCHAR)
            FROM events WHERE value IS NOT NULL
        ),
        hashed AS (
            SELECT key, CAST(CAST('0x' || substr(md5(v), 1, 15)
                AS UBIGINT) AS BIGINT) AS h
            FROM melted
        ),
        regs AS (
            SELECT key, h % 4096 AS bucket,
                MAX(CASE WHEN (h >> 12) = 0 THEN 49
                    ELSE 48 - length(to_base(h >> 12, 2)) + 1 END) AS rho
            FROM hashed GROUP BY key, h % 4096
        ),
        hagg AS (
            SELECT key, COUNT(*) AS used_buckets,
                SUM(CAST(1 AS BIGINT) << (49 - rho)) AS nz_sum
            FROM regs GROUP BY key
        ),
        staged AS (
            SELECT key, used_buckets,
                nz_sum + (4096 - used_buckets)
                    * (CAST(1 AS BIGINT) << 49) AS int_sum
            FROM hagg
        ),
        est AS (
            SELECT key,
                ROUND(CASE
                    WHEN (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0
                         * 4096.0 * 562949953421312.0
                         / CAST(int_sum AS DOUBLE) <= 2.5 * 4096
                     AND used_buckets < 4096
                    THEN 4096.0 * ln(4096.0
                        / CAST(4096 - used_buckets AS DOUBLE))
                    ELSE (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0
                         * 4096.0 * 562949953421312.0
                         / CAST(int_sum AS DOUBLE)
                END, 4) AS est_distinct
            FROM staged
        ),
        nmelt AS (
            SELECT 'event_id' AS key, CAST(event_id AS DOUBLE) AS v
            FROM events WHERE event_id IS NOT NULL
            UNION ALL
            SELECT 'user_id', CAST(user_id AS DOUBLE)
            FROM events WHERE user_id IS NOT NULL
            UNION ALL
            SELECT 'value', value FROM events WHERE value IS NOT NULL
        ),
        fp AS (
            SELECT key, GREATEST(CAST(ROUND(v * 1048576.0) AS BIGINT),
                CAST(0 AS BIGINT)) AS m
            FROM nmelt
        ),
        binned AS (
            SELECT key,
                m - m % CAST(power(2.0, GREATEST(
                    length(to_base(m, 2)) - 7, 0)) AS BIGINT) AS bin
            FROM fp
        ),
        bins AS (
            SELECT key, bin, COUNT(*) AS cnt FROM binned GROUP BY key, bin
        ),
        cum AS (
            SELECT key, bin,
                SUM(cnt) OVER (PARTITION BY key ORDER BY bin) AS cum,
                SUM(cnt) OVER (PARTITION BY key) AS total
            FROM bins
        ),
        quant AS (
            SELECT key,
                MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN bin END)
                    / 1048576.0 AS q50,
                MIN(CASE WHEN cum >= CEIL(0.95 * total) THEN bin END)
                    / 1048576.0 AS q95,
                MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN bin END)
                    / 1048576.0 AS q99
            FROM cum GROUP BY key
        )
        SELECT c.col AS "column", c.n_rows, c.n_null, e.est_distinct,
            c.col IN ('event_id', 'user_id', 'value') AS is_numeric,
            q.q50, q.q95, q.q99
        FROM counts c
        LEFT JOIN est e ON e.key = c.col
        LEFT JOIN quant q ON q.key = c.col
    """
    # boilerplate removal: the twin rebuilds the synthesized page, the
    # block split, the per-block tag-strip / anchor-length delta, and
    # the exact-integer link-density test
    out["boilerplate_clean"] = r"""
        WITH pages AS (
            SELECT doc_id,
                '<div>nav: <a href="/a">Home</a> <a href="/b">About</a>'
                || ' <a href="/c">Contact</a></div>'
                || '<p>' || substr(text, 1, 200)
                || '.</p><div>short</div><div><a href="/x">Terms of'
                || ' service</a> | <a href="/y">Privacy policy</a></div>'
                    AS html
            FROM documents WHERE doc_id < 300
        ),
        blk AS (
            SELECT doc_id, regexp_split_to_array(html,
                '(?i)</(?:p|div|li|td|h[1-6])>|<br[ /]*>') AS blocks
            FROM pages
        ),
        calc AS (
            SELECT doc_id,
                len(blocks) AS n_blocks,
                list_filter(blocks, b ->
                    length(trim(regexp_replace(b, '<[^>]*>', '', 'g')))
                        >= 20
                    AND (length(regexp_replace(b, '<[^>]*>', '', 'g'))
                         - length(regexp_replace(regexp_replace(b,
                               '(?i)<a[^>]*>[^<]*</a>', '', 'g'),
                               '<[^>]*>', '', 'g'))) * 100
                        <= 33 * length(regexp_replace(b, '<[^>]*>', '',
                                                      'g'))
                ) AS kept,
                COALESCE(list_sum(list_transform(blocks, b ->
                    length(regexp_replace(b, '<[^>]*>', '', 'g'))
                    - length(regexp_replace(regexp_replace(b,
                          '(?i)<a[^>]*>[^<]*</a>', '', 'g'),
                          '<[^>]*>', '', 'g')))), 0) AS anchor_chars
            FROM blk
        )
        SELECT doc_id, n_blocks,
            len(kept) AS n_blocks_kept,
            anchor_chars,
            array_to_string(list_transform(kept, b ->
                trim(regexp_replace(b, '<[^>]*>', '', 'g'))), chr(10))
                AS clean_text,
            length(array_to_string(list_transform(kept, b ->
                trim(regexp_replace(b, '<[^>]*>', '', 'g'))), chr(10)))
                > 0 AS keep
        FROM calc
    """
    # snapshot diff: the twin rebuilds both synthetic cycles and the
    # full-outer verdict CASE
    out["snapshot_diff"] = r"""
        WITH prev AS (
            SELECT 'https://example.com/p/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   md5(text) AS prev_digest
            FROM documents WHERE doc_id < 450
        ),
        cur AS (
            SELECT 'https://example.com/p/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2')
                        ELSE md5(text) END AS cur_digest
            FROM documents WHERE doc_id >= 50
        )
        SELECT COALESCE(p.url, c.url) AS url, prev_digest, cur_digest,
            CASE WHEN prev_digest IS NULL THEN 'added'
                 WHEN cur_digest IS NULL THEN 'removed'
                 WHEN prev_digest <> cur_digest THEN 'changed'
                 ELSE 'unchanged' END AS change
        FROM prev p FULL OUTER JOIN cur c ON p.url = c.url
    """
    out["robots_txt_parse"] = r"""
        WITH raw AS (
            SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
                CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN e'User-agent: googlebot\nDisallow: /g\n\n'
                        || e'User-agent: *\nDisallow: /private\n'
                        || e'Disallow: /tmp/\nCrawl-delay: '
                        || CAST(CAST(doc_id % 7 + 1 AS INT) AS VARCHAR)
                        || e'\n'
                    WHEN 1 THEN e'User-Agent: *\ndisallow: /a'
                        || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR) || e'\n'
                    WHEN 2 THEN e'User-agent: googlebot\nDisallow: /x\n'
                    ELSE '' END AS robots_txt
            FROM documents WHERE doc_id < 60
        ),
        parsed AS (
            SELECT host,
                (list_filter(
                    regexp_split_to_array(robots_txt, '(?i)user-agent:'),
                    s -> regexp_matches(s, '^[ \t]*\*[ \t]*(\r\n|\n|$)')
                ))[1] AS sec
            FROM raw
        ),
        shaped AS (
            SELECT host,
                sec IS NOT NULL AS has_rules,
                COALESCE(regexp_extract_all(
                    sec, '(?i)disallow:[ \t]*([^ \t\r\n]+)', 1), []) AS dis,
                regexp_extract(
                    sec, '(?i)crawl-delay:[ \t]*([0-9]+(\.[0-9]+)?)', 1
                ) AS delay_raw
            FROM parsed
        )
        SELECT host, has_rules,
            CAST(len(dis) AS INT) AS n_disallow,
            dis[1] AS first_disallow,
            CASE WHEN delay_raw IS NULL OR delay_raw = ''
                 THEN CAST(1.0 AS DOUBLE)
                 ELSE CAST(delay_raw AS DOUBLE) END AS crawl_delay_s,
            len(list_filter(dis, p -> starts_with('/private/x', p))) > 0
                AS deny_private,
            len(list_filter(dis, p -> starts_with('/a3/page', p))) > 0
                AS deny_a3
        FROM shaped
    """
    # PII patterns interpolated from the module constants so the oracle
    # can never drift from the engine's regexes; DuckDB regexp_replace
    # needs the explicit 'g' flag (Spark's is global by default)
    out["pii_redaction"] = rf"""
        WITH pii AS (
            SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN text || ' contact user'
                        || CAST(doc_id AS VARCHAR) || '@example.com now'
                    WHEN 1 THEN text || ' call +1 (555) 010-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' or visit 10.0.'
                        || CAST(doc_id % 256 AS VARCHAR) || '.7'
                    ELSE text END AS text
            FROM documents
        ),
        chain AS (
            SELECT doc_id, text,
                regexp_replace(text, '{ts.PII_EMAIL}', '<EMAIL>', 'g')
                    AS after_email
            FROM pii
        ),
        chain2 AS (
            SELECT *, regexp_replace(after_email, '{ts.PII_IPV4}', '<IP>',
                                     'g') AS after_ip
            FROM chain
        )
        SELECT doc_id,
            CAST(len(regexp_extract_all(text, '{ts.PII_EMAIL}')) AS INT)
                AS n_emails,
            CAST(len(regexp_extract_all(after_email, '{ts.PII_IPV4}'))
                AS INT) AS n_ips,
            CAST(len(regexp_extract_all(after_ip, '{ts.PII_PHONE}'))
                AS INT) AS n_phones,
            regexp_replace(after_ip, '{ts.PII_PHONE}', '<PHONE>', 'g')
                AS redacted
        FROM chain2
    """
    out["ngram_contamination"] = r"""
        WITH toks AS (
            SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0b]+') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                unnest(list_distinct(list_transform(
                    range(1, greatest(len(t) - 12, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 12), ' ')
                ))) AS gram
            FROM toks
        ),
        corpus_g AS (SELECT * FROM g WHERE doc_id % 10 <> 7),
        bench_g AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
        tot AS (
            SELECT doc_id, COUNT(*) AS n_grams FROM corpus_g GROUP BY 1
        ),
        hit AS (
            SELECT doc_id, COUNT(*) AS n_cont FROM corpus_g
            WHERE gram IN (SELECT gram FROM bench_g) GROUP BY 1
        )
        SELECT t.doc_id,
            CAST(t.n_grams AS BIGINT) AS n_grams,
            CAST(COALESCE(h.n_cont, 0) AS INT) AS n_contaminated,
            ROUND(CAST(COALESCE(h.n_cont, 0) AS DOUBLE) / t.n_grams, 6)
                AS contamination,
            COALESCE(h.n_cont, 0) > 0 AS contaminated
        FROM tot t LEFT JOIN hit h USING (doc_id)
    """
    # the hashed+bloom variant must reproduce the string-gram answer
    # exactly (DuckDB has no xxhash64 — equality to the string twin IS
    # the oracle)
    out["ngram_contamination_hashed"] = out["ngram_contamination"]
    out["unigram_quality"] = r"""
        WITH toks AS (
            SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0b]+'))
                    AS token
            FROM documents
        ),
        toks2 AS (SELECT * FROM toks WHERE token <> ''),
        counts AS (SELECT token, COUNT(*) AS cnt FROM toks2 GROUP BY 1),
        vocab AS (
            SELECT token, cnt FROM (
                SELECT token, cnt,
                    ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
                FROM counts
            ) WHERE rank <= 200
        ),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS vt FROM vocab),
        joined AS (
            SELECT t.doc_id, v.cnt
            FROM toks2 t LEFT JOIN vocab v USING (token)
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                COUNT(cnt) AS in_vocab,
                COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS freq_mass
            FROM joined GROUP BY 1
        )
        SELECT doc_id, n_tokens,
            CAST(in_vocab AS INT) AS in_vocab,
            freq_mass,
            ROUND(CAST(freq_mass AS DOUBLE)
                  / CAST((SELECT vt FROM total) * n_tokens AS DOUBLE), 9)
                AS avg_vocab_freq,
            ROUND(CAST(n_tokens - in_vocab AS DOUBLE) / n_tokens, 6)
                AS oov_ratio
        FROM per_doc
    """
    # host_pagerank: the oracle unrolls all 5 integer-PageRank iterations
    # as plain CTEs — a fully independent DuckDB PageRank over the same
    # deterministic edge list, not a golden file. Every step is integral
    # (// floor division ≡ Spark's `div` on non-negative longs), so ranks
    # are bit-identical.
    _pr = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 600),
        edges AS (
            SELECT DISTINCT doc_id % 57 AS src, (doc_id*7+3) % 60 AS dst
            FROM ids WHERE doc_id % 57 <> (doc_id*7+3) % 60
        ),
        hosts AS (SELECT DISTINCT h AS host FROM
            (SELECT src AS h FROM edges UNION SELECT dst AS h FROM edges)),
        nn AS (SELECT COUNT(*) AS n FROM hosts),
        bb AS (SELECT CAST(1000000000000 // n AS BIGINT) AS b FROM nn),
        outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY 1),
        r0 AS (SELECT host, (SELECT b FROM bb) AS rank FROM hosts)"""
    for _i in range(1, 6):
        _p = f"r{_i - 1}"
        _pr += f""",
        c{_i} AS (
            SELECT e.dst AS host,
                CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
            FROM edges e
            JOIN {_p} r ON e.src = r.host
            JOIN outdeg o ON e.src = o.src
            GROUP BY 1
        ),
        d{_i} AS (
            SELECT CAST(COALESCE(SUM(r.rank), 0) // (SELECT n FROM nn)
                AS BIGINT) AS dshare
            FROM {_p} r LEFT JOIN outdeg o ON r.host = o.src
            WHERE o.src IS NULL
        ),
        r{_i} AS (
            SELECT r.host,
                CAST((15 * (SELECT b FROM bb)
                      + 85 * (COALESCE(c.insum, 0)
                              + (SELECT dshare FROM d{_i}))) // 100
                    AS BIGINT) AS rank
            FROM {_p} r LEFT JOIN c{_i} c USING (host)
        )"""
    _pr += "\n        SELECT host, rank FROM r5"
    out["host_pagerank"] = _pr
    # trust_rank: same unrolled-CTE strategy — an independent DuckDB
    # TrustRank (teleport + dangling mass to the seed whitelist only)
    _tr = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 600),
        edges AS (
            SELECT DISTINCT doc_id % 57 AS src, (doc_id*7+3) % 60 AS dst
            FROM ids WHERE doc_id % 57 <> (doc_id*7+3) % 60
        ),
        hosts AS (SELECT DISTINCT h AS host FROM
            (SELECT src AS h FROM edges UNION SELECT dst AS h FROM edges)),
        flagged AS (SELECT host, host % 10 = 0 AS is_seed FROM hosts),
        ns AS (SELECT COUNT(*) AS n FROM flagged WHERE is_seed),
        bb AS (SELECT CAST(1000000000000 // n AS BIGINT) AS b FROM ns),
        outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY 1),
        t0 AS (SELECT host, is_seed,
                   CAST(CASE WHEN is_seed THEN (SELECT b FROM bb)
                        ELSE 0 END AS BIGINT) AS rank
               FROM flagged)"""
    for _i in range(1, 6):
        _p = f"t{_i - 1}"
        _tr += f""",
        tc{_i} AS (
            SELECT e.dst AS host,
                CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
            FROM edges e
            JOIN {_p} r ON e.src = r.host
            JOIN outdeg o ON e.src = o.src
            GROUP BY 1
        ),
        td{_i} AS (
            SELECT CAST(COALESCE(SUM(r.rank), 0) // (SELECT n FROM ns)
                AS BIGINT) AS dshare
            FROM {_p} r LEFT JOIN outdeg o ON r.host = o.src
            WHERE o.src IS NULL
        ),
        t{_i} AS (
            SELECT r.host, r.is_seed,
                CAST(((CASE WHEN r.is_seed
                            THEN 15 * (SELECT b FROM bb) ELSE 0 END)
                      + 85 * (COALESCE(c.insum, 0)
                              + CASE WHEN r.is_seed
                                     THEN (SELECT dshare FROM td{_i})
                                     ELSE 0 END)) // 100
                    AS BIGINT) AS rank
            FROM {_p} r LEFT JOIN tc{_i} c USING (host)
        )"""
    _tr += "\n        SELECT host, is_seed, rank FROM t5"
    out["trust_rank"] = _tr
    # positions via the UNNEST(generate_series) idiom (chunk_documents
    # precedent — this DuckDB lacks WITH ORDINALITY); anchor-group match
    out["phrase_search"] = r"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(lower(trim(text)),
                                                  '[ \t\n\r\f\x0b]+'),
                            t -> t <> '') AS a
            FROM documents
        ),
        pos AS (
            SELECT doc_id, a[i] AS token, CAST(i - 1 AS BIGINT) AS pos
            FROM toks, UNNEST(generate_series(1, len(a))) AS u(i)
        ),
        dim AS (SELECT 'table' AS token, CAST(0 AS BIGINT) AS off
                UNION ALL
                SELECT 'hash', 1),
        anchored AS (
            SELECT p.doc_id, p.pos - d.off AS anchor, d.off
            FROM pos p JOIN dim d USING (token)
            WHERE p.pos - d.off >= 0
        ),
        starts AS (
            SELECT doc_id, anchor
            FROM anchored GROUP BY doc_id, anchor
            HAVING COUNT(DISTINCT off) = 2
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM starts GROUP BY doc_id
    """
    # the dsir_weights pipeline (verbatim CTEs) feeding the A-ES cut —
    # the DSIR selection step; same md5 uniform, seed 11, global top-50
    out["dsir_select"] = r"""
        WITH d AS (
            SELECT doc_id, text, (doc_id % 10) < 2 AS is_target
            FROM documents
        ),
        toks AS (
            SELECT doc_id, is_target,
                unnest(list_filter(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                    x -> x <> '')) AS term
            FROM d
        ),
        b AS (
            SELECT doc_id, is_target,
                CAST(CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)
                    AS BIGINT) % 4096 AS bucket
            FROM toks
        ),
        model AS (
            SELECT bucket,
                CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END)
                    AS BIGINT) AS t_cnt,
                CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END)
                    AS BIGINT) AS s_cnt
            FROM b GROUP BY 1
        ),
        totals AS (
            SELECT CAST(SUM(t_cnt) AS BIGINT) AS tt,
                CAST(SUM(s_cnt) AS BIGINT) AS st
            FROM model
        ),
        per AS (
            SELECT t.doc_id, CAST(SUM(m.t_cnt) AS BIGINT) AS t_mass,
                CAST(SUM(m.s_cnt) AS BIGINT) AS s_mass
            FROM b t JOIN model m USING (bucket) GROUP BY 1
        ),
        imp AS (
            SELECT d.doc_id,
                ROUND((CAST(COALESCE(p.t_mass, 0) + 1 AS DOUBLE)
                       / CAST(COALESCE(p.s_mass, 0) + 1 AS DOUBLE))
                      * (CAST((SELECT st FROM totals) + 1 AS DOUBLE)
                         / CAST((SELECT tt FROM totals) + 1 AS DOUBLE)),
                      6) AS importance
            FROM d LEFT JOIN per p USING (doc_id)
        ),
        keyed AS (
            SELECT doc_id, importance,
                ln((CAST(CAST('0x' || substr(
                        md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 8)
                    AS UBIGINT) AS BIGINT) + 1.0) / 4294967296.0)
                / importance AS aes
            FROM imp WHERE importance > 0
        ),
        ranked AS (
            SELECT doc_id, importance, aes,
                CAST(ROW_NUMBER() OVER (ORDER BY aes DESC, doc_id)
                    AS INT) AS rn
            FROM keyed
        )
        SELECT doc_id, importance, rn, ROUND(aes, 9) AS aes_key
        FROM ranked WHERE rn <= 50
    """
    # bitmask bit_or RANGE window — integer-exact in both engines
    out["proximity_search"] = r"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(lower(trim(text)),
                                                  '[ \t\n\r\f\x0b]+'),
                            t -> t <> '') AS a
            FROM documents
        ),
        pos AS (
            SELECT doc_id, a[i] AS token, CAST(i - 1 AS BIGINT) AS pos
            FROM toks, UNNEST(generate_series(1, len(a))) AS u(i)
        ),
        dim AS (SELECT 'table' AS token, CAST(1 AS BIGINT) AS bit
                UNION ALL SELECT 'hash', 2
                UNION ALL SELECT 'join', 4),
        j AS (
            SELECT p.doc_id, p.pos, d.bit
            FROM pos p JOIN dim d USING (token)
        ),
        anch AS (
            SELECT doc_id, pos,
                BIT_OR(bit) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING) AS m
            FROM j
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_anchors
        FROM anch WHERE m = 7 GROUP BY doc_id
    """
    # SNM candidates (naive rank window) + the identical distinct-gram
    # set math; integer sizes divided once, rounded at emission
    out["containment_pairs"] = r"""
        WITH ranked AS (
            SELECT doc_id, text, ROW_NUMBER() OVER (
                ORDER BY lower(substr(text, 1, 40)), doc_id) AS rnk
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.text AS ta, b.text AS tb
            FROM ranked a JOIN ranked b
              ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
        ),
        g AS (
            SELECT id_a, id_b,
                list_distinct(list_transform(
                    range(1, greatest(len(ta) - 8, 1) + 1, 3),
                    i -> substr(ta, i, 9))) AS ga,
                list_distinct(list_transform(
                    range(1, greatest(len(tb) - 8, 1) + 1, 3),
                    i -> substr(tb, i, 9))) AS gb
            FROM pairs
        ),
        sc AS (
            SELECT id_a, id_b,
                len(list_intersect(ga, gb)) AS inter,
                len(ga) AS na, len(gb) AS nb,
                len(ga) + len(gb) - len(list_intersect(ga, gb)) AS uni
            FROM g
        )
        SELECT id_a, id_b,
            ROUND(CASE WHEN uni = 0 THEN 0.0
                       ELSE inter * 1.0 / uni END, 6) AS jaccard,
            ROUND(CASE WHEN na = 0 THEN 0.0
                       ELSE inter * 1.0 / na END, 6) AS containment_a,
            ROUND(CASE WHEN nb = 0 THEN 0.0
                       ELSE inter * 1.0 / nb END, 6) AS containment_b
        FROM sc
        WHERE inter * 1.0 / na >= 0.2 OR inter * 1.0 / nb >= 0.2
    """
    # same path grammar as the url_traps twin; DuckDB regexp_replace
    # needs the 'g' flag to match Spark's replace-all semantics
    out["url_templates"] = f"""
        WITH per AS (
            SELECT
                regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)', 1),
                    ':[0-9]+$', '') AS host,
                regexp_replace(regexp_replace(
                    split_part(regexp_replace(url,
                        '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/]*', ''),
                        '?', 1),
                    '[0-9a-fA-F]{{16,}}', '{{hex}}', 'g'),
                    '[0-9]+', '{{n}}', 'g') AS template,
                url
            FROM {PAGES}
        )
        SELECT host, template, CAST(COUNT(*) AS BIGINT) AS n_urls,
               MIN(url) AS sample_url, COUNT(*) >= 10 AS is_explosive
        FROM per GROUP BY host, template
    """
    # the winnow_fingerprints CTE chain verbatim (doc_id<300), then the
    # fp-keyed self join + distinct-shared counts and coverage ratios
    out["winnow_clones"] = r"""
        WITH g AS (
            SELECT doc_id,
                list_transform(
                    range(1, greatest(length(text) - 8, 0) + 1),
                    i -> CAST(CAST('0x' || substr(md5(
                        substr(text, CAST(i AS INT), 9)), 1, 8)
                        AS UBIGINT) AS BIGINT)
                ) AS hs
            FROM documents WHERE doc_id < 300
        ),
        sel AS (
            SELECT doc_id, list_transform(
                range(1, greatest(len(hs) - 3, 0) + 1),
                s -> list_aggregate(hs[s:s+3], 'min')) AS sels
            FROM g
        ),
        allfps AS (
            SELECT DISTINCT doc_id, fp
            FROM (SELECT doc_id, unnest(sels) AS fp FROM sel)
        ),
        freq AS (SELECT fp, COUNT(*) AS c FROM allfps GROUP BY 1),
        fps AS (
            SELECT f.doc_id, f.fp
            FROM allfps f JOIN freq q USING (fp) WHERE q.c <= 5
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
            FROM fps GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
        SELECT s.id_a, s.id_b, s.n_shared,
            ROUND(s.n_shared * 1.0 / sa.nfp, 6) AS share_a,
            ROUND(s.n_shared * 1.0 / sb.nfp, 6) AS share_b
        FROM shared s
        JOIN sizes sa ON s.id_a = sa.doc_id
        JOIN sizes sb ON s.id_b = sb.doc_id
    """
    # integer cross-multiplied gates; naive rank window == global_rank
    out["host_quality_rank"] = f"""
        WITH per AS (
            SELECT
                regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)', 1),
                    ':[0-9]+$', '') AS host,
                CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text),
                                                    '[ \\t\\n\\r\\f\\x0b]+'))
                     END) >= 10
                 AND length(regexp_replace(text,
                        '[A-Za-z0-9 \\t\\n\\r\\f\\x0b]', '', 'g')) * 100
                     <= length(text) * 30
                THEN 1 ELSE 0 END AS k
            FROM {PAGES}
        ),
        hosts AS (
            SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages,
                   CAST(SUM(k) AS BIGINT) AS n_keep
            FROM per GROUP BY host
        )
        SELECT host, n_pages, n_keep,
            CAST((n_keep * 1000000) // n_pages AS BIGINT) AS quality_ppm,
            CAST(ROW_NUMBER() OVER (
                ORDER BY (n_keep * 1000000) // n_pages DESC, host)
                AS BIGINT) AS rank
        FROM hosts
    """
    # the three candidate chains verbatim (exact star / SNM rank window /
    # winnow fp join), bool_or'd per pair, then the stride-3 gram verify
    out["multi_block_dedup"] = r"""
        WITH d AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 300
        ),
        exact AS (
            SELECT id_a, id_b, 'exact' AS src FROM (
                SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id_a,
                       doc_id AS id_b
                FROM d
            ) WHERE id_a < id_b
        ),
        ranked AS (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY lower(substr(text, 1, 40)), doc_id) AS rnk
            FROM d
        ),
        snm AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'snm' AS src
            FROM ranked a JOIN ranked b
              ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
        ),
        g0 AS (
            SELECT doc_id,
                list_transform(
                    range(1, greatest(length(text) - 8, 0) + 1),
                    i -> CAST(CAST('0x' || substr(md5(
                        substr(text, CAST(i AS INT), 9)), 1, 8)
                        AS UBIGINT) AS BIGINT)
                ) AS hs
            FROM d
        ),
        sel AS (
            SELECT doc_id, list_transform(
                range(1, greatest(len(hs) - 3, 0) + 1),
                s -> list_aggregate(hs[s:s+3], 'min')) AS sels
            FROM g0
        ),
        allfps AS (
            SELECT DISTINCT doc_id, fp
            FROM (SELECT doc_id, unnest(sels) AS fp FROM sel)
        ),
        freq AS (SELECT fp, COUNT(*) AS c FROM allfps GROUP BY 1),
        fps AS (
            SELECT f.doc_id, f.fp
            FROM allfps f JOIN freq q USING (fp) WHERE q.c <= 5
        ),
        winnow AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'winnow' AS src
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        ),
        cands AS (
            SELECT id_a, id_b,
                bool_or(src = 'exact') AS src_exact,
                bool_or(src = 'snm') AS src_snm,
                bool_or(src = 'winnow') AS src_winnow
            FROM (SELECT * FROM exact UNION ALL
                  SELECT * FROM snm UNION ALL
                  SELECT * FROM winnow)
            GROUP BY 1, 2
        ),
        grams AS (
            SELECT doc_id,
                list_distinct(list_transform(
                    range(1, greatest(length(text) - 8, 1) + 1, 3),
                    i -> substr(text, CAST(i AS INT), 9))) AS g
            FROM d
        ),
        sc AS (
            SELECT c.*, len(list_intersect(ga.g, gb.g)) AS inter,
                   len(ga.g) AS na, len(gb.g) AS nb,
                   len(ga.g) + len(gb.g)
                       - len(list_intersect(ga.g, gb.g)) AS uni
            FROM cands c
            JOIN grams ga ON c.id_a = ga.doc_id
            JOIN grams gb ON c.id_b = gb.doc_id
        )
        SELECT id_a, id_b, src_exact, src_snm, src_winnow,
            ROUND(CASE WHEN uni = 0 THEN 0.0
                       ELSE inter * 1.0 / uni END, 6) AS jaccard,
            ROUND(CASE WHEN na = 0 THEN 0.0
                       ELSE inter * 1.0 / na END, 6) AS containment_a,
            ROUND(CASE WHEN nb = 0 THEN 0.0
                       ELSE inter * 1.0 / nb END, 6) AS containment_b,
            (src_exact
             OR (CASE WHEN uni = 0 THEN 0.0
                      ELSE inter * 1.0 / uni END) >= 0.5
             OR (CASE WHEN na = 0 THEN 0.0
                      ELSE inter * 1.0 / na END) >= 0.8
             OR (CASE WHEN nb = 0 THEN 0.0
                      ELSE inter * 1.0 / nb END) >= 0.8) AS is_dup
        FROM sc
    """
    # synthetic mirrors (full h1→m1, md5-parity half h2→m2) + the
    # content-hash self-join with the too-common rule
    out["mirror_hosts"] = f"""
        WITH base AS (SELECT url, text FROM {PAGES}),
        aug AS (
            SELECT url, text FROM base
            UNION ALL
            SELECT regexp_replace(url, '^https://h1\\.', 'https://m1.'),
                   text
            FROM base WHERE url LIKE 'https://h1.%'
            UNION ALL
            SELECT regexp_replace(url, '^https://h2\\.', 'https://m2.'),
                   text
            FROM base
            WHERE url LIKE 'https://h2.%'
              AND CAST(CAST('0x' || substr(md5(text), 1, 2) AS UBIGINT)
                       AS BIGINT) % 2 = 0
        ),
        hp AS (
            SELECT DISTINCT
                regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)', 1),
                    ':[0-9]+$', '') AS host,
                md5(text) AS h
            FROM aug
        ),
        freq AS (SELECT h, COUNT(*) AS c FROM hp GROUP BY 1),
        kept AS (SELECT hp.host, hp.h FROM hp
                 JOIN freq USING (h) WHERE c <= 20),
        sizes AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS nh
                  FROM kept GROUP BY host),
        shared AS (
            SELECT a.host AS host_a, b.host AS host_b,
                CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b
              ON a.h = b.h AND a.host < b.host
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        )
        SELECT s.host_a, s.host_b, s.n_shared,
            ROUND(s.n_shared * 1.0 / sa.nh, 6) AS share_a,
            ROUND(s.n_shared * 1.0 / sb.nh, 6) AS share_b
        FROM shared s
        JOIN sizes sa ON s.host_a = sa.host
        JOIN sizes sb ON s.host_b = sb.host
    """
    # host_hits: all 4 HITS iterations (8 half-steps) unrolled as CTEs —
    # an independent DuckDB HITS with the same unit-divide integral
    # normalization (graph.py host_hits contract), not a golden file.
    # Every CTE is AS MATERIALIZED: each half-step references its
    # predecessor ~4× (raw sum, unit total, spine join), and DuckDB
    # INLINES plain CTEs — the unrolled chain re-expands ~4^8 times and
    # a 60-host graph takes >600 s (measured; 0.05 s materialized).
    # PageRank gets away with plain CTEs only because its per-iteration
    # reference fan-out is 3 over 5 iterations.
    _hits = """
        WITH ids AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id < 600),
        edges AS MATERIALIZED (
            SELECT DISTINCT doc_id % 57 AS src, (doc_id*7+3) % 60 AS dst
            FROM ids WHERE doc_id % 57 <> (doc_id*7+3) % 60
        ),
        hosts AS MATERIALIZED (SELECT DISTINCT h AS host FROM
            (SELECT src AS h FROM edges UNION SELECT dst AS h FROM edges)),
        nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM hosts),
        h0 AS MATERIALIZED (SELECT host,
                   CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS s
               FROM hosts)"""
    for _i in range(1, 5):
        _hits += f""",
        ar{_i} AS MATERIALIZED (
            SELECT e.dst AS host, CAST(SUM(h.s) AS BIGINT) AS raw
            FROM edges e JOIN h{_i - 1} h ON e.src = h.host GROUP BY 1
        ),
        au{_i} AS MATERIALIZED (
            SELECT CAST(GREATEST(1,
                CAST(COALESCE(SUM(raw), 0) // 1000000000000 AS BIGINT))
              AS BIGINT) AS unit
            FROM ar{_i}
        ),
        a{_i} AS MATERIALIZED (
            SELECT hs.host,
                CAST(COALESCE(r.raw, 0) // (SELECT unit FROM au{_i})
                  AS BIGINT) AS s
            FROM hosts hs LEFT JOIN ar{_i} r ON hs.host = r.host
        ),
        hr{_i} AS MATERIALIZED (
            SELECT e.src AS host, CAST(SUM(a.s) AS BIGINT) AS raw
            FROM edges e JOIN a{_i} a ON e.dst = a.host GROUP BY 1
        ),
        hu{_i} AS MATERIALIZED (
            SELECT CAST(GREATEST(1,
                CAST(COALESCE(SUM(raw), 0) // 1000000000000 AS BIGINT))
              AS BIGINT) AS unit
            FROM hr{_i}
        ),
        h{_i} AS MATERIALIZED (
            SELECT hs.host,
                CAST(COALESCE(r.raw, 0) // (SELECT unit FROM hu{_i})
                  AS BIGINT) AS s
            FROM hosts hs LEFT JOIN hr{_i} r ON hs.host = r.host
        )"""
    _hits += """
        SELECT a4.host, a4.s AS auth, h4.s AS hub
        FROM a4 JOIN h4 USING (host)"""
    out["host_hits"] = _hits
    # lang_segments: split on newline runs with aligned unnest /
    # generate_subscripts (the posexplode twin — subscripts are 1-based),
    # then the shared lang-ID SQL twin per paragraph.
    # chunk_retrieval: the chunk CTE chain + integer BOW vectors + exact
    # long dot/norms; the single float op (one division) mirrors bow_topk.
    out["chunk_retrieval"] = r"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text),
                                                  '[ \t\n\r\f\x0b]+'),
                            x -> x <> '') AS t
            FROM documents
        ),
        c AS (
            SELECT doc_id, t, len(t) AS n,
                CASE WHEN len(t) <= 0 THEN 0
                     ELSE 1 + CAST((greatest(len(t) - 64, 0) + 47) // 48
                                   AS INT)
                END AS n_chunks
            FROM toks
        ),
        chunks AS (
            SELECT doc_id, CAST(i - 1 AS INT) AS chunk_ix,
                   t[(i-1)*48 + 1 : (i-1)*48 + 64] AS ct
            FROM c, UNNEST(generate_series(1, n_chunks)) AS u(i)
            WHERE n_chunks > 0
        ),
        vecs AS (
            SELECT doc_id,
                CAST(doc_id AS VARCHAR) || ':'
                    || CAST(chunk_ix AS VARCHAR) AS cid,
                list_transform(generate_series(0, 31),
                    b -> CAST(len(list_filter(ct,
                         t -> CAST('0x' || substr(md5(lower(t)), 1, 8)
                                 AS UBIGINT) % 32 = b)) AS BIGINT)) AS vec
            FROM chunks
        ),
        m AS (
            SELECT cid, vec,
                CAST(list_sum(list_transform(vec, x -> x * x)) AS BIGINT)
                    AS mm
            FROM vecs
        ),
        q AS (
            SELECT cid AS qid, vec AS qvec,
                CAST(list_sum(list_transform(vec, x -> x * x)) AS BIGINT)
                    AS qm
            FROM vecs WHERE doc_id < 2
        ),
        sc AS (
            SELECT q.qid, m.cid,
                CAST(list_sum(list_transform(generate_series(1, 32),
                     i -> m.vec[i] * q.qvec[i])) AS BIGINT) AS dot,
                m.mm, q.qm
            FROM m CROSS JOIN q WHERE m.cid <> q.qid
        ),
        cosd AS (
            SELECT qid, cid, dot,
                CASE WHEN mm > 0 AND qm > 0
                     THEN CAST(dot AS DOUBLE)
                          / sqrt(CAST(mm * qm AS DOUBLE))
                     ELSE 0.0 END AS cos
            FROM sc
        )
        SELECT qid, cid, dot, ROUND(cos, 6) AS cosine,
               CAST(rn AS INT) AS rank
        FROM (
            SELECT qid, cid, dot, cos,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, cid) AS rn
            FROM cosd
        ) WHERE rn <= 5
    """
    # chunk_documents: stride arithmetic + inclusive list slices; the
    # chunk count is 1 + ceil(max(n-64,0)/48) (chunk 64, overlap 16).
    out["chunk_documents"] = r"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text),
                                                  '[ \t\n\r\f\x0b]+'),
                            x -> x <> '') AS t
            FROM documents
        ),
        c AS (
            SELECT doc_id, t, len(t) AS n,
                CASE WHEN len(t) <= 0 THEN 0
                     ELSE 1 + CAST((greatest(len(t) - 64, 0) + 47) // 48
                                   AS INT)
                END AS n_chunks
            FROM toks
        )
        SELECT doc_id, CAST(i - 1 AS INT) AS chunk_ix,
               array_to_string(t[(i-1)*48 + 1 : (i-1)*48 + 64], ' ')
                   AS chunk_text,
               CAST(len(t[(i-1)*48 + 1 : (i-1)*48 + 64]) AS INT)
                   AS n_tokens
        FROM c, UNNEST(generate_series(1, n_chunks)) AS u(i)
        WHERE n_chunks > 0
    """
    # phrase_blocklist: sentinel-space normalized stream + position-of
    # checks; first_phrase = first LIST-order match (COALESCE of CASEs).
    out["phrase_blocklist"] = r"""
        WITH n AS (
            SELECT doc_id,
                ' ' || array_to_string(
                    regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')
                    || ' ' AS norm
            FROM documents
        )
        SELECT doc_id,
            COALESCE(
                CASE WHEN position(' slow merge ' IN norm) > 0
                     THEN 'slow merge' END,
                CASE WHEN position(' table value ' IN norm) > 0
                     THEN 'table value' END,
                CASE WHEN position(' zzz never here ' IN norm) > 0
                     THEN 'zzz never here' END
            ) AS first_phrase,
            COALESCE(
                CASE WHEN position(' slow merge ' IN norm) > 0
                     THEN 'slow merge' END,
                CASE WHEN position(' table value ' IN norm) > 0
                     THEN 'table value' END,
                CASE WHEN position(' zzz never here ' IN norm) > 0
                     THEN 'zzz never here' END
            ) IS NOT NULL AS blocked
        FROM n
    """
    # badwords_filter: distinct letter/digit-run tokens × the word dim.
    out["badwords_filter"] = r"""
        WITH bad AS (
            SELECT unnest(['slow', 'merge', 'zzznope']) AS w
        ),
        toks AS (
            SELECT doc_id,
                unnest(list_distinct(
                    regexp_extract_all(lower(text), '[a-z0-9]+'))) AS tok
            FROM documents
        ),
        hits AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bad_types,
                   MIN(tok) AS first_bad
            FROM toks JOIN bad ON tok = w GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(h.n_bad_types, 0) AS n_bad_types,
               h.first_bad,
               COALESCE(h.n_bad_types, 0) > 0 AS blocked
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """
    # canonical_by_quality: the neardup_components transitive closure
    # extended with the quality window — derived textually from that
    # oracle so the two can never drift apart.
    _nc = out["neardup_components"]
    _head = _nc[: _nc.rindex("SELECT id AS doc_id")]
    out["canonical_by_quality"] = _head + """
            , mincomp AS (
                SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS component
                FROM reach GROUP BY id
            ),
            q AS (
                SELECT m.doc_id, m.component,
                       CAST(length(d.text) AS BIGINT) AS n_chars
                FROM mincomp m JOIN documents d USING (doc_id)
            )
            SELECT doc_id, component, n_chars,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY n_chars DESC, doc_id) = 1
                       AS is_best
            FROM q
        """
    # pmi_phrases: unigram/bigram counts + the pinned double association
    # ((pair-δ)·N)/(c1·c2); ORDER BY score DESC with (w1, w2) tiebreak.
    out["pmi_phrases"] = r"""
        WITH toks AS (
            SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                        '[ \t\n\r\f\x0b]+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        uni AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        ),
        total AS (SELECT CAST(SUM(c) AS BIGINT) AS N FROM uni),
        pairs AS (
            SELECT p[1] AS w1, p[2] AS w2,
                   CAST(COUNT(*) AS BIGINT) AS pair_cnt
            FROM (
                SELECT unnest(list_transform(range(1, len(t)),
                              i -> [t[i], t[i+1]])) AS p
                FROM toks WHERE len(t) >= 2
            ) GROUP BY 1, 2
            HAVING COUNT(*) >= 5
        ),
        scored AS (
            SELECT p.w1, p.w2, p.pair_cnt, u1.c AS c1, u2.c AS c2,
                (CAST(p.pair_cnt - 2 AS DOUBLE)
                 * CAST((SELECT N FROM total) AS DOUBLE))
                / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS score
            FROM pairs p
            JOIN uni u1 ON p.w1 = u1.w
            JOIN uni u2 ON p.w2 = u2.w
        )
        SELECT w1, w2, pair_cnt, c1, c2,
               ROUND(score, 9) AS score,
               CAST(row_number() OVER (ORDER BY score DESC, w1, w2) AS INT)
                   AS rank
        FROM scored
        ORDER BY score DESC, w1, w2 LIMIT 50
    """
    # webdataset_roundtrip: the oracle reconstructs every parsed member
    # field straight from documents — the tar layer (to_tar_shards →
    # parse_tar_df) must be byte-lossless for values to line up (the
    # warc_roundtrip oracle pattern).
    out["webdataset_roundtrip"] = r"""
        WITH d AS (
            SELECT doc_id, lang, text FROM documents WHERE doc_id < 64
        ),
        m AS (
            SELECT
                'shard-' || CAST(doc_id % 4 AS VARCHAR) || '.tar' AS shard,
                'd' || CAST(doc_id AS VARCHAR) AS key,
                'd' || CAST(doc_id AS VARCHAR) || '.json' AS member,
                '{"doc_id": ' || CAST(doc_id AS VARCHAR)
                    || ', "lang": "' || lang || '"}' AS payload_text
            FROM d
            UNION ALL
            SELECT
                'shard-' || CAST(doc_id % 4 AS VARCHAR) || '.tar',
                'd' || CAST(doc_id AS VARCHAR),
                'd' || CAST(doc_id AS VARCHAR) || '.txt',
                text
            FROM d
        )
        SELECT shard, key, member, payload_text,
               CAST(strlen(payload_text) AS BIGINT) AS n_bytes
        FROM m
    """
    # epoch_shuffle: the oracle's naive window over the same md5 key —
    # the Spark side runs the two-phase rank and must produce the
    # identical permutation.
    out["epoch_shuffle"] = r"""
        SELECT seq_id,
               CAST(row_number() OVER (ORDER BY k, seq_id) AS INT)
                   AS position
        FROM (
            SELECT doc_id AS seq_id,
                   md5(CAST(doc_id AS VARCHAR) || ':1:20260818') AS k
            FROM documents
        )
    """
    # temperature_sample: exact isqrt (corrected floor-sqrt) + scaled
    # integral div for the alpha=1/2 shares; the float feasibility chain
    # mirrors the Spark expression association order term for term.
    out["temperature_sample"] = r"""
        WITH base AS (
            SELECT doc_id, source,
                CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text),
                              '[ \t\n\r\f\x0b]+'))
                    END AS INT) AS n_tokens
            FROM documents
        ),
        avail AS (
            SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
            FROM base GROUP BY 1
        ),
        sq AS (
            SELECT source, avail,
                s1 + (CASE WHEN (s1 + 1) * (s1 + 1) <= avail
                      THEN 1 ELSE 0 END) AS sqrt_mass
            FROM (
                SELECT source, avail,
                    s0 - (CASE WHEN s0 * s0 > avail THEN 1 ELSE 0 END) AS s1
                FROM (
                    SELECT source, avail,
                        CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT)
                            AS s0
                    FROM avail
                )
            )
        ),
        tot AS (SELECT CAST(SUM(sqrt_mass) AS BIGINT) AS tot FROM sq),
        wts AS (
            SELECT source, avail,
                CAST((sqrt_mass * 1000000000) // (SELECT tot FROM tot)
                  AS BIGINT) AS w_scaled
            FROM sq
        ),
        t AS (
            SELECT MIN(CAST(avail AS DOUBLE)
                       / (CAST(w_scaled AS DOUBLE)
                          / CAST(1000000000 AS DOUBLE))) AS T
            FROM wts WHERE w_scaled > 0
        ),
        rates AS (
            SELECT source,
                CAST(w_scaled AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS w,
                CASE WHEN avail > 0 THEN LEAST(1.0,
                    CAST(w_scaled AS DOUBLE) / CAST(1000000000 AS DOUBLE)
                    * (SELECT T FROM t) / CAST(avail AS DOUBLE))
                ELSE 0.0 END AS rate
            FROM wts
        ),
        scored AS (
            SELECT b.doc_id, b.source, b.n_tokens,
                COALESCE(r.w, 0.0) AS w0,
                COALESCE(r.rate, 0.0) AS rate0,
                CAST(CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)
                    || ':20260818'), 1, 8) AS UBIGINT) AS DOUBLE)
                    / 4294967296.0 AS u
            FROM base b LEFT JOIN rates r USING (source)
        )
        SELECT doc_id, source, n_tokens,
            ROUND(w0, 6) AS w, ROUND(rate0, 6) AS rate,
            u, u < rate0 AS sampled
        FROM scored
    """
    out["lang_segments"] = f"""
        WITH aug AS (
            SELECT doc_id, text ||
                CASE WHEN doc_id % 3 = 1
                         THEN chr(10) || 'der die und das ist nicht ein'
                     WHEN doc_id % 3 = 2
                         THEN chr(10) || '中文文本中文文本中文'
                     ELSE '' END AS text
            FROM documents
        ),
        seg AS (
            SELECT doc_id,
                CAST(generate_subscripts(
                    regexp_split_to_array(text, '\\n+'), 1) - 1 AS INT)
                    AS para_ix,
                unnest(regexp_split_to_array(text, '\\n+')) AS para
            FROM aug
        )
        SELECT doc_id, para_ix,
               {ts.lang_id_sql('para')} AS lang,
               CAST(length(para) AS BIGINT) AS n_chars,
               CAST(CASE WHEN trim(para) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(para),
                                                   '[ \\t\\n\\r\\f\\x0b]+'))
                    END AS BIGINT) AS n_tokens
        FROM seg WHERE trim(para) <> ''
    """
    out["sessionization"] = r"""
        WITH o AS (
            SELECT user_id, event_id, ts,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                        > 1800000000
                THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
            FROM o
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
            COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
            CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
                AS duration_us
        FROM s GROUP BY 1, 2
    """
    # seq_packing: the oracle RUNS the naive single-window prefix sum —
    # fine at sf0.01 — certifying that the engine's two-phase
    # range-shuffle + broadcast-offset plan computes the identical global
    # token-stream layout. All slice columns are exact integer arithmetic.
    out["seq_packing"] = r"""
        WITH tok AS (
            SELECT doc_id,
                (CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text),
                          '[ \t\n\r\f\x0b]+')) END) + 1 AS n_tok
            FROM documents
        ),
        cum AS (
            SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
                CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS strt
            FROM tok
        ),
        spans AS (
            SELECT doc_id, strt, strt + n_tok AS fin,
                CAST(strt // 256 AS BIGINT) AS s0,
                CAST((strt + n_tok - 1) // 256 AS BIGINT) AS s1
            FROM cum
        ),
        ex AS (
            SELECT doc_id, strt, fin,
                unnest(range(s0, s1 + 1)) AS seq_id
            FROM spans
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
            CAST(GREATEST(strt, seq_id * 256) - seq_id * 256 AS INT)
                AS seq_off,
            CAST(GREATEST(strt, seq_id * 256) - strt AS BIGINT) AS doc_off,
            CAST(LEAST(fin, (seq_id + 1) * 256)
                 - GREATEST(strt, seq_id * 256) AS INT) AS n_toks
        FROM ex
    """
    # bpe_merge_pairs: both engines index characters 1-based; pair counts
    # are exact integers, rank tiebreak (cnt desc, pair asc) is total.
    out["bpe_merge_pairs"] = r"""
        WITH units AS (
            SELECT unnest(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]')) AS unit
            FROM documents
        ),
        wc AS (SELECT unit, COUNT(*) AS wcnt FROM units GROUP BY 1),
        pairs AS (
            SELECT unnest(list_transform(
                       range(1, CAST(length(unit) AS BIGINT)),
                       i -> unit[i] || ' ' || unit[i + 1])) AS pair,
                   wcnt
            FROM wc WHERE length(unit) >= 2
        ),
        agg AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
                FROM pairs GROUP BY 1),
        ranked AS (
            SELECT pair, cnt,
                CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT)
                    AS rank
            FROM agg
        )
        SELECT pair, cnt, rank FROM ranked WHERE rank <= 200
    """
    # media_decode: every decoded field recomputed from the generator's id
    # arithmetic — the Spark side must round-trip REAL bytes to match
    out["media_decode"] = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        p AS (
            SELECT doc_id, CAST(doc_id % 6 AS INT) AS m,
                1 + doc_id % 2 AS wch,
                8000 + (doc_id % 3) * 4000 AS wrate,
                100 + doc_id % 400 AS wframes,
                1 + doc_id % 64 AS bw, 1 + doc_id % 48 AS bh,
                1 + doc_id % 32 AS pw, 1 + doc_id % 24 AS ph,
                1 + doc_id % 96 AS nw, 1 + doc_id % 80 AS nh,
                1 + doc_id % 50 AS gw, 1 + doc_id % 40 AS gh
            FROM ids
        )
        SELECT doc_id AS media_id,
            CASE m WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp' WHEN 2 THEN 'ppm'
                 WHEN 4 THEN 'png' WHEN 5 THEN 'gif'
                 ELSE NULL END AS format,
            m <> 3 AS ok,
            CAST(CASE m WHEN 1 THEN bw WHEN 2 THEN pw
                 WHEN 4 THEN nw WHEN 5 THEN gw END AS INT) AS width,
            CAST(CASE m WHEN 1 THEN bh WHEN 2 THEN ph
                 WHEN 4 THEN nh WHEN 5 THEN gh END AS INT) AS height,
            CAST(CASE m WHEN 0 THEN wch WHEN 4 THEN 3 END AS INT)
                AS n_channels,
            CAST(CASE m WHEN 0 THEN wrate END AS INT) AS sample_rate,
            CAST(CASE m
                WHEN 0 THEN 44 + wframes * wch * 2
                WHEN 1 THEN 54 + (3 * bw + (4 - (3 * bw) % 4) % 4) * bh
                WHEN 2 THEN 9 + length(CAST(pw AS VARCHAR))
                            + length(CAST(ph AS VARCHAR)) + 3 * pw * ph
                WHEN 4 THEN 45
                WHEN 5 THEN 14
                ELSE 12 END AS INT) AS n_bytes,
            CASE m WHEN 0 THEN CAST(wframes AS DOUBLE) / wrate END
                AS duration_s
        FROM p
    """
    out["domain_cap"] = """
        SELECT doc_id, source, n_chars, CAST(rk AS INT) AS keep_rank
        FROM (
            SELECT doc_id, source, n_chars, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
            FROM documents
        ) WHERE rk <= 10
    """
    # training_mix: all four stages + the final quota window recomputed
    # from scratch (same expressions the individual oracles use, scoped
    # to the train/bench splits)
    out["training_mix"] = r"""
        WITH train AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
        bench AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
        cg AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, greatest(length(text) - 8, 1) + 1, 3),
                i -> substr(text, CAST(i AS INT), 9))) AS g
            FROM train
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM cg a JOIN cg b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.g, b.g))) >= 0.5
        ),
        near_ids AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
        curb AS (
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text),
                                                    '[ \t\n\r\f\x0b]+'))
                    END AS n_tokens,
                ROUND(CASE WHEN length(text) = 0 THEN 0.0 ELSE
                    CAST(length(regexp_replace(text,
                        '[A-Za-z0-9 \t\n\r\f\x0b]', '', 'g')) AS DOUBLE)
                    / length(text) END, 6) AS punct_ratio,
                doc_id != MIN(doc_id) OVER (PARTITION BY md5(text))
                    AS is_exact_dup
            FROM train
        ),
        cur AS (
            SELECT c.doc_id, c.is_exact_dup,
                (n.doc_id IS NOT NULL) AS is_near_dup,
                (NOT c.is_exact_dup AND n.doc_id IS NULL
                 AND c.n_tokens >= 10 AND c.punct_ratio <= 0.3) AS keep
            FROM curb c LEFT JOIN near_ids n USING (doc_id)
        ),
        lines AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM train),
        repl AS (
            SELECT doc_id, ROUND(CAST(len(l) - len(list_distinct(l))
                                      AS DOUBLE) / len(l), 6)
                AS dup_line_ratio
            FROM lines
        ),
        tarr AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(lower(trim(text)),
                                                  '[ \t\n\r\f\x0b]+'),
                            x -> x <> '') AS t
            FROM train
        ),
        toksx AS (SELECT doc_id, unnest(t) AS term FROM tarr),
        tcnt AS (SELECT doc_id, term, COUNT(*) AS cnt FROM toksx GROUP BY 1, 2),
        ttop AS (
            SELECT doc_id, MAX(cnt) AS top_tok, SUM(cnt) AS n_tokens
            FROM tcnt GROUP BY 1
        ),
        rep AS (
            SELECT r.doc_id, r.dup_line_ratio,
                ROUND(CASE WHEN COALESCE(tt.n_tokens, 0) = 0 THEN 0.0
                    ELSE CAST(tt.top_tok AS DOUBLE) / tt.n_tokens END, 6)
                    AS top_token_ratio
            FROM repl r LEFT JOIN ttop tt USING (doc_id)
        ),
        gtrg AS (
            SELECT doc_id,
                unnest(list_distinct(list_transform(
                    range(1, greatest(len(t) - 12, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 12), ' ')
                ))) AS gram
            FROM tarr
        ),
        gbeg AS (
            SELECT DISTINCT
                unnest(list_distinct(list_transform(
                    range(1, greatest(len(t) - 12, 1) + 1),
                    i -> array_to_string(list_slice(t, i, i + 12), ' ')
                ))) AS gram
            FROM (SELECT list_filter(regexp_split_to_array(
                        lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                        x -> x <> '') AS t FROM bench)
        ),
        hitd AS (
            SELECT DISTINCT doc_id FROM gtrg
            WHERE gram IN (SELECT gram FROM gbeg)
        ),
        joined AS (
            SELECT cur.doc_id, d.source, d.n_chars,
                cur.is_exact_dup, cur.is_near_dup,
                (h.doc_id IS NOT NULL) AS contaminated,
                rep.dup_line_ratio, rep.top_token_ratio,
                (cur.keep AND h.doc_id IS NULL
                 AND rep.dup_line_ratio <= 0.3
                 AND rep.top_token_ratio <= 0.12) AS quality_ok
            FROM cur
            JOIN rep USING (doc_id)
            LEFT JOIN hitd h USING (doc_id)
            JOIN train d USING (doc_id)
        ),
        capped AS (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY n_chars DESC, doc_id
            ) AS INT) AS cap_rank
            FROM joined WHERE quality_ok
        )
        SELECT j.doc_id, j.source, j.is_exact_dup, j.is_near_dup,
            j.contaminated, j.dup_line_ratio, j.top_token_ratio,
            j.quality_ok, c.cap_rank,
            COALESCE(c.cap_rank <= 10, FALSE) AS selected
        FROM joined j LEFT JOIN capped c USING (doc_id)
    """
    out["line_dedup"] = r"""
        WITH docs AS (
            SELECT doc_id, text ||
                CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN chr(10) || 'cookie notice' || chr(10)
                        || 'all rights reserved'
                    WHEN 1 THEN chr(10) || 'cookie notice'
                    ELSE chr(10) || 'unique tail '
                        || CAST(doc_id AS VARCHAR)
                END AS text
            FROM documents
        ),
        lines AS (
            SELECT doc_id,
                unnest(string_split(text, chr(10))) AS line,
                generate_subscripts(string_split(text, chr(10)), 1) AS pos
            FROM docs
        ),
        boiler AS (
            SELECT line
            FROM (SELECT DISTINCT doc_id, line FROM lines
                  WHERE len(line) >= 1)
            GROUP BY line HAVING COUNT(*) > 1
        ),
        kept AS (
            SELECT l.doc_id, l.pos, l.line FROM lines l
            WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = l.line)
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                string_agg(line, chr(10) ORDER BY pos) AS text_clean
            FROM kept GROUP BY doc_id
        ),
        base AS (
            SELECT doc_id,
                CAST(len(string_split(text, chr(10))) AS INT) AS n_lines
            FROM docs
        )
        SELECT b.doc_id, b.n_lines,
            CAST(b.n_lines - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
            COALESCE(a.text_clean, '') AS text_clean
        FROM base b LEFT JOIN agg a USING (doc_id)
    """
    out["hash_sample"] = r"""
        SELECT doc_id, source, u, u < frac AS sampled
        FROM (
            SELECT doc_id, source,
                CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                    || ':20260817'), 1, 8) AS UBIGINT) AS DOUBLE)
                    / 4294967296.0 AS u,
                CASE source
                    WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
                    WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
                    WHEN 'src4' THEN 0.1 ELSE 0.05
                END AS frac
            FROM documents
        )
    """
    out["classifier_score"] = r"""
        WITH toks AS (
            SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                    x -> x <> '')) AS term
            FROM documents
        ),
        b AS (
            SELECT doc_id,
                CAST(CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)
                    AS BIGINT) % 4096 AS bucket
            FROM toks
        ),
        per AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM((bucket * 2654435761) % 2001 - 1000) AS BIGINT)
                    AS raw
            FROM b GROUP BY doc_id
        )
        SELECT d.doc_id,
            COALESCE(p.n_tokens, 0) AS n_tokens,
            COALESCE(p.raw, 0) AS raw,
            ROUND(CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0.5
                ELSE 1.0 / (1.0 + exp(-(CAST(p.raw AS DOUBLE)
                    / (1000.0 * p.n_tokens)))) END, 6) AS score
        FROM documents d LEFT JOIN per p USING (doc_id)
    """
    out["bigram_quality"] = r"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                    x -> x <> '') AS t
            FROM documents
        ),
        bgs AS (
            SELECT doc_id,
                unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks WHERE len(t) >= 2
        ),
        counts AS (SELECT bigram, COUNT(*) AS cnt FROM bgs GROUP BY 1),
        ctx AS (
            SELECT split_part(bigram, ' ', 1) AS w1,
                COUNT(*) AS w1_cnt
            FROM bgs GROUP BY 1
        ),
        vocab AS (
            SELECT bigram, cnt FROM (
                SELECT bigram, cnt,
                    ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rk
                FROM counts
            ) WHERE rk <= 500
        ),
        vocab2 AS (
            SELECT v.bigram, v.cnt, c.w1_cnt
            FROM vocab v JOIN ctx c ON split_part(v.bigram, ' ', 1) = c.w1
        ),
        joined AS (
            SELECT b.doc_id, v.cnt, v.w1_cnt
            FROM bgs b LEFT JOIN vocab2 v USING (bigram)
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(cnt) AS in_vocab,
                COALESCE(CAST(SUM(cnt) AS BIGINT), 0) AS trans_mass,
                COALESCE(CAST(SUM(w1_cnt) AS BIGINT), 0) AS ctx_mass
            FROM joined GROUP BY 1
        )
        SELECT d.doc_id,
            CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
            CAST(COALESCE(p.in_vocab, 0) AS INT) AS in_vocab,
            CAST(COALESCE(p.trans_mass, 0) AS BIGINT) AS trans_mass,
            ROUND(CASE WHEN COALESCE(p.ctx_mass, 0) > 0
                THEN (CAST(p.trans_mass AS DOUBLE)
                      / CAST(p.ctx_mass AS DOUBLE))
                     * (CAST(p.in_vocab AS DOUBLE)
                        / CAST(p.n_bigrams AS DOUBLE))
                ELSE 0.0 END, 9) AS trans_score,
            ROUND(CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                THEN CAST(p.n_bigrams - p.in_vocab AS DOUBLE)
                     / CAST(p.n_bigrams AS DOUBLE)
                ELSE 0.0 END, 6) AS oov_ratio
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """
    out["image_ahash_neardups"] = r"""
        WITH ids AS (SELECT doc_id FROM documents),
        px AS (
            SELECT doc_id, x, y,
                (17 * x + 31 * y + 7 * (doc_id % 16)) % 256 AS g
            FROM ids, range(0, 8) rx(x), range(0, 8) ry(y)
        ),
        s AS (
            SELECT doc_id, CAST(SUM(g) AS BIGINT) AS tot
            FROM px GROUP BY 1
        ),
        bits AS (
            SELECT p.doc_id, CAST(p.y * 8 + p.x AS INT) AS i,
                CASE WHEN p.g * 64 > s.tot THEN 1 ELSE 0 END AS b
            FROM px p JOIN s USING (doc_id)
        ),
        h AS (
            SELECT doc_id,
                CAST(SUM(CASE WHEN i >= 32
                    THEN b * (CAST(1 AS BIGINT) << (i - 32))
                    ELSE 0 END) AS BIGINT) AS hash_hi,
                CAST(SUM(CASE WHEN i < 32
                    THEN b * (CAST(1 AS BIGINT) << i)
                    ELSE 0 END) AS BIGINT) AS hash_lo
            FROM bits GROUP BY 1
        )
        SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                     + bit_count(xor(a.hash_lo, b.hash_lo)) AS INT)
                    AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
        ) WHERE hamming <= 7
    """
    out["blocklist_filter"] = r"""
        WITH d AS (
            SELECT doc_id,
                'w' || CAST(doc_id % 7 AS VARCHAR) || '.' ||
                (['news.example.com', 'shop.example.com',
                  'ads.tracker.net', 'cdn.media.org',
                  'blog.example.com'])[CAST(doc_id % 5 AS INT) + 1]
                    AS host
            FROM documents
        ),
        bl(domain) AS (VALUES ('ads.tracker.net'), ('shop.example.com'),
                              ('media.org')),
        sfx AS (
            SELECT doc_id,
                unnest(list_transform(
                    range(1, len(string_split(host, '.')) + 1),
                    i -> array_to_string(list_slice(
                        string_split(host, '.'), i,
                        len(string_split(host, '.'))), '.'))) AS domain
            FROM d
        ),
        hits AS (
            SELECT s.doc_id, min(s.domain) AS matched_domain
            FROM sfx s JOIN bl USING (domain) GROUP BY 1
        )
        SELECT d.doc_id, d.host,
            h.matched_domain IS NOT NULL AS blocked,
            h.matched_domain
        FROM d LEFT JOIN hits h USING (doc_id)
    """
    out["dsir_weights"] = r"""
        WITH d AS (
            SELECT doc_id, text, (doc_id % 10) < 2 AS is_target
            FROM documents
        ),
        toks AS (
            SELECT doc_id, is_target,
                unnest(list_filter(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                    x -> x <> '')) AS term
            FROM d
        ),
        b AS (
            SELECT doc_id, is_target,
                CAST(CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)
                    AS BIGINT) % 4096 AS bucket
            FROM toks
        ),
        model AS (
            SELECT bucket,
                CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END)
                    AS BIGINT) AS t_cnt,
                CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END)
                    AS BIGINT) AS s_cnt
            FROM b GROUP BY 1
        ),
        totals AS (
            SELECT CAST(SUM(t_cnt) AS BIGINT) AS tt,
                CAST(SUM(s_cnt) AS BIGINT) AS st
            FROM model
        ),
        per AS (
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(m.t_cnt) AS BIGINT) AS t_mass,
                CAST(SUM(m.s_cnt) AS BIGINT) AS s_mass
            FROM b t JOIN model m USING (bucket) GROUP BY 1
        )
        SELECT d.doc_id,
            COALESCE(p.n_tokens, 0) AS n_tokens,
            COALESCE(p.t_mass, 0) AS t_mass,
            COALESCE(p.s_mass, 0) AS s_mass,
            ROUND((CAST(COALESCE(p.t_mass, 0) + 1 AS DOUBLE)
                   / CAST(COALESCE(p.s_mass, 0) + 1 AS DOUBLE))
                  * (CAST((SELECT st FROM totals) + 1 AS DOUBLE)
                     / CAST((SELECT tt FROM totals) + 1 AS DOUBLE)), 6)
                AS importance
        FROM d LEFT JOIN per p USING (doc_id)
    """
    out["substring_dedup"] = r"""
        WITH docs AS (
            SELECT doc_id, text ||
                CASE CAST(doc_id % 4 AS INT)
                    WHEN 1 THEN
                        ' the quick brown fox jumps over the lazy'
                        || ' sleeping dog'
                    WHEN 3 THEN repeat(' rep' || CAST(doc_id AS VARCHAR)
                        || ' one two three four five six seven', 2)
                    ELSE ''
                END AS text
            FROM documents
        ),
        tok AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(text,
                    '[ \t\n\r\f\x0b]+'), x -> x <> '') AS t
            FROM docs
        ),
        base AS (
            SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, t FROM tok
        ),
        g2 AS (
            SELECT doc_id, CAST(start AS INT) AS start,
                array_to_string(list_slice(t, CAST(start AS INT),
                    CAST(start AS INT) + 7), ' ') AS gram
            FROM (
                SELECT doc_id, t,
                    unnest(range(1, greatest(len(t) - 6, 1))) AS start
                FROM base
            )
        ),
        dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(*) > 1),
        hits AS (
            SELECT doc_id, start FROM g2
            WHERE gram IN (SELECT gram FROM dup)
        ),
        covered AS (
            SELECT DISTINCT doc_id,
                CAST(unnest(range(start, start + 8)) AS INT) AS pos
            FROM hits
        ),
        removed AS (
            SELECT doc_id, CAST(COUNT(*) AS INT) AS n_removed
            FROM covered GROUP BY doc_id
        ),
        spans AS (
            SELECT doc_id, CAST(SUM(flag) AS INT) AS n_spans FROM (
                SELECT doc_id,
                    CASE WHEN pe IS NULL OR start > pe THEN 1 ELSE 0 END
                        AS flag
                FROM (
                    SELECT doc_id, start,
                        MAX(start + 7) OVER (PARTITION BY doc_id
                            ORDER BY start ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS pe
                    FROM hits
                )
            ) GROUP BY doc_id
        ),
        tokens AS (
            SELECT doc_id, CAST(generate_subscripts(t, 1) AS INT) AS pos,
                unnest(t) AS tok
            FROM base
        ),
        kept AS (
            SELECT k.doc_id, k.pos, k.tok FROM tokens k
            WHERE NOT EXISTS (SELECT 1 FROM covered c
                WHERE c.doc_id = k.doc_id AND c.pos = k.pos)
        ),
        clean AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
            FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_tokens,
            COALESCE(r.n_removed, 0) AS n_removed,
            COALESCE(s.n_spans, 0) AS n_spans,
            COALESCE(c.text_clean, '') AS text_clean
        FROM base b
        LEFT JOIN removed r USING (doc_id)
        LEFT JOIN spans s USING (doc_id)
        LEFT JOIN clean c USING (doc_id)
    """
    out["repetition_stats"] = r"""
        WITH docs AS (
            SELECT doc_id,
                CASE CAST(doc_id % 4 AS INT)
                    WHEN 1 THEN text || ' spam spam spam spam spam'
                    WHEN 2 THEN text || chr(10) || 'footer line' || chr(10)
                        || 'footer line' || chr(10) || 'footer line'
                    ELSE text END AS text
            FROM documents
        ),
        lines AS (
            SELECT doc_id, string_split(text, chr(10)) AS l FROM docs
        ),
        base AS (
            SELECT doc_id, CAST(len(l) AS INT) AS n_lines,
                ROUND(CAST(len(l) - len(list_distinct(l)) AS DOUBLE)
                      / len(l), 6) AS dup_line_ratio
            FROM lines
        ),
        tarr AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(lower(trim(text)),
                                                  '[ \t\n\r\f\x0b]+'),
                            x -> x <> '') AS t
            FROM docs
        ),
        toks AS (SELECT doc_id, unnest(t) AS term FROM tarr),
        tcnt AS (SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
        ttop AS (
            SELECT doc_id, MAX(cnt) AS top_tok, SUM(cnt) AS n_tokens
            FROM tcnt GROUP BY 1
        ),
        bigr AS (
            SELECT doc_id,
                unnest(list_transform(
                    range(1, greatest(len(t) - 1, 0) + 1),
                    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)]
                )) AS term
            FROM tarr
        ),
        bcnt AS (SELECT doc_id, term, COUNT(*) AS cnt FROM bigr GROUP BY 1, 2),
        btop AS (SELECT doc_id, MAX(cnt) AS top_bi FROM bcnt GROUP BY 1)
        SELECT b.doc_id, b.n_lines, b.dup_line_ratio,
            CAST(COALESCE(tt.n_tokens, 0) AS BIGINT) AS n_tokens,
            ROUND(CASE WHEN COALESCE(tt.n_tokens, 0) = 0 THEN 0.0
                ELSE CAST(tt.top_tok AS DOUBLE) / tt.n_tokens END, 6)
                AS top_token_ratio,
            ROUND(CASE WHEN COALESCE(tt.n_tokens, 0) = 0 THEN 0.0
                ELSE LEAST(1.0, CAST(COALESCE(bt.top_bi, 0) * 2 AS DOUBLE)
                                / tt.n_tokens) END, 6) AS top_bigram_ratio
        FROM base b
        LEFT JOIN ttop tt USING (doc_id)
        LEFT JOIN btop bt USING (doc_id)
    """
    out["sitemap_parse"] = r"""
        WITH raw AS (
            SELECT 'h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
                'https://h' || CAST(doc_id AS VARCHAR) || '.example.com'
                    AS base,
                doc_id
            FROM documents WHERE doc_id < 45
        ),
        docs AS (
            SELECT host,
                CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN '<urlset><url><loc>' || base
                        || '/a</loc><lastmod>2026-01-0'
                        || CAST(doc_id % 9 + 1 AS VARCHAR)
                        || 'T03:04:0' || CAST(doc_id % 10 AS VARCHAR)
                        || e'Z</lastmod></url><url>\n  <loc> ' || base
                        || '/b </loc></url></urlset>'
                    WHEN 1 THEN '<sitemapindex><sitemap><loc>' || base
                        || '/s1.xml</loc></sitemap><sitemap><loc>' || base
                        || '/s2.xml</loc></sitemap></sitemapindex>'
                    ELSE '<urlset><url><loc>' || base
                        || '/only</loc></url><url><loc></loc></url>'
                        || '<sitemap><loc>' || base
                        || '/extra.xml</loc></sitemap></urlset>'
                END AS xml
            FROM raw
        ),
        blocks AS (
            SELECT host,
                regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS ub,
                CAST(len(regexp_extract_all(
                    xml, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS INT)
                    AS n_children
            FROM docs
        ),
        entries AS (
            SELECT host, n_children, unnest(ub) AS b FROM blocks
        ),
        fields AS (
            SELECT host, n_children,
                regexp_extract(b,
                    '<loc>[ \t\r\n]*([^< \t\r\n]*)[ \t\r\n]*</loc>', 1)
                    AS url,
                regexp_extract(b,
                    '<lastmod>[ \t\r\n]*([^< \t\r\n]*)[ \t\r\n]*</lastmod>',
                    1) AS lastmod_raw
            FROM entries
        )
        SELECT host, url,
            TRY_CAST(substr(replace(lastmod_raw, 'T', ' ') || ' 00:00:00',
                            1, 19) AS TIMESTAMP) AS lastmod_ts,
            n_children
        FROM fields WHERE url <> ''
    """
    # Gopher rules: every count is the exact-integer twin of the Spark
    # expression; anchors are the portable (\A|\n)/(\n|\z) spellings
    out["gopher_quality"] = r"""
        WITH docs2 AS (
            SELECT doc_id,
                CASE WHEN doc_id % 2 = 0
                     THEN text || ' the results have to be part of that run'
                     ELSE text END AS text
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text),
                              '[ \t\n\r\f\x0b]+')) END AS n_words,
                length(regexp_replace(trim(text), '[ \t\n\r\f\x0b]+',
                                      '', 'g')) AS word_chars,
                len(regexp_extract_all(text, '#'))
                  + len(regexp_extract_all(text, '\.\.\.'))
                  + len(regexp_extract_all(text, '…')) AS n_symbols,
                len(regexp_split_to_array(text, '\n')) AS n_lines,
                len(regexp_extract_all(text,
                    '(\A|\n)[ \t]*[-*•]')) AS n_bullet,
                len(regexp_extract_all(text,
                    '(\.\.\.|…)[ \t]*(\n|\z)')) AS n_ell,
                len(list_filter(regexp_split_to_array(trim(text),
                    '[ \t\n\r\f\x0b]+'),
                    w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
                (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
                 + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS stopword_hits
            FROM docs2
        ), r AS (
            SELECT doc_id, n_words,
                CASE WHEN n_words = 0 THEN 0.0 ELSE
                    ROUND(CAST(word_chars AS DOUBLE) / n_words, 6)
                END AS avg_word_len,
                CASE WHEN n_words = 0 THEN 0.0 ELSE
                    ROUND(CAST(n_symbols AS DOUBLE) / n_words, 6)
                END AS symbol_ratio,
                ROUND(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_ratio,
                ROUND(CAST(n_ell AS DOUBLE) / n_lines, 6) AS ellipsis_ratio,
                CASE WHEN n_words = 0 THEN 0.0 ELSE
                    ROUND(CAST(n_alpha AS DOUBLE) / n_words, 6)
                END AS alpha_word_ratio,
                stopword_hits
            FROM m
        )
        SELECT doc_id, CAST(n_words AS INT) AS n_words, avg_word_len,
            symbol_ratio, bullet_ratio, ellipsis_ratio, alpha_word_ratio,
            CAST(stopword_hits AS INT) AS stopword_hits,
            (n_words >= 20 AND n_words <= 100000
             AND avg_word_len >= 3.0 AND avg_word_len <= 10.0
             AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
             AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
             AND stopword_hits >= 2) AS keep
        FROM r
    """
    # SoftDeDup: the keep compare is exact bigint (k * n < 2^32)
    out["soft_dedup"] = r"""
        WITH d2 AS (
            SELECT doc_id,
                CASE WHEN doc_id % 3 = 0
                     THEN 'dup-' || CAST(doc_id % 10 AS VARCHAR)
                     ELSE text END AS text
            FROM documents
        ),
        keyed AS (SELECT doc_id, md5(text) AS dup_key FROM d2),
        sizes AS (SELECT dup_key, COUNT(*) AS n_dups FROM keyed GROUP BY 1)
        SELECT k.doc_id, CAST(s.n_dups AS BIGINT) AS n_dups,
            ROUND(CAST(1 AS DOUBLE) / s.n_dups, 9) AS weight,
            (CAST(CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)
                || ':42'), 1, 8) AS UBIGINT) AS BIGINT)
             * CAST(s.n_dups AS BIGINT)) < 4294967296 AS keep
        FROM keyed k JOIN sizes s USING (dup_key)
    """
    # leakage-safe split: recursive-CTE components (the
    # neardup_components oracle) + the same integer md5 thresholds
    out["leakage_safe_split"] = r"""
        WITH RECURSIVE grams AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, greatest(length(text) - 8, 1) + 1, 3),
                i -> substr(text, CAST(i AS INT), 9))) AS g
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.g, b.g))) >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach(id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (
            SELECT id AS doc_id, CAST(MIN(comp) AS BIGINT) AS component
            FROM reach GROUP BY id
        ),
        kk AS (
            SELECT doc_id, component,
                CAST(CAST('0x' || substr(md5(CAST(component AS VARCHAR)
                    || ':42'), 1, 8) AS UBIGINT) AS BIGINT) AS k
            FROM comp
        )
        SELECT doc_id, component,
            CASE WHEN k < 3865470566 THEN 'train'
                 WHEN k < 4080218931 THEN 'val'
                 ELSE 'test' END AS split
        FROM kk
    """
    # REP directives: same explicit-whitespace tag grammar, list ops
    out["nofollow_links"] = r"""
        WITH h AS (
            SELECT doc_id,
                '<html>'
                || CASE WHEN doc_id % 5 = 0
                        THEN '<meta name="robots" content="noindex,nofollow">'
                        WHEN doc_id % 5 = 1
                        THEN '<meta name="robots" content="noindex">'
                        ELSE '' END
                || '<a href="/a' || CAST(doc_id AS VARCHAR) || '">x</a>'
                || '<a rel="nofollow" href="/b' || CAST(doc_id AS VARCHAR)
                || '">y</a>'
                || '<a class="z" href="/c' || CAST(doc_id AS VARCHAR)
                || '">z</a></html>' AS html
            FROM documents
        ),
        m AS (
            SELECT doc_id, html,
                lower(regexp_extract(html,
                    '(?i)<meta[ \t\n\r\f\x0b][^>]*name="robots"[^>]*content="([^"]*)"',
                    1)) AS meta
            FROM h
        ),
        l AS (
            SELECT doc_id,
                meta LIKE '%noindex%' AS noindex,
                CASE WHEN meta LIKE '%nofollow%' THEN []::VARCHAR[]
                ELSE list_filter(list_transform(
                    list_filter(
                        regexp_extract_all(html,
                            '(?i)<a[ \t\n\r\f\x0b][^>]*>', 0),
                        t -> NOT regexp_matches(t,
                            '(?i)rel="[^"]*nofollow')),
                    t -> regexp_extract(t, '(?i)href="([^"]*)"', 1)),
                    u -> u <> '') END AS links
            FROM m
        )
        SELECT doc_id,
            unnest(CASE WHEN len(links) = 0
                        THEN [CAST(NULL AS VARCHAR)] ELSE links END)
                AS follow_url,
            noindex
        FROM l
    """
    # mime sniff: expected mime from the same id arithmetic that built
    # the bytes (the media_decode oracle pattern)
    out["mime_sniff"] = r"""
        SELECT doc_id AS media_id,
            CASE WHEN doc_id < 200 THEN
                CASE CAST(doc_id % 6 AS INT)
                    WHEN 0 THEN 'audio/wav'
                    WHEN 1 THEN 'image/bmp'
                    WHEN 2 THEN 'image/x-portable-pixmap'
                    WHEN 3 THEN 'application/octet-stream'
                    WHEN 4 THEN 'image/png'
                    WHEN 5 THEN 'image/gif'
                END
            ELSE
                CASE CAST(doc_id % 8 AS INT)
                    WHEN 0 THEN 'application/pdf'
                    WHEN 1 THEN 'application/gzip'
                    WHEN 2 THEN 'application/zip'
                    WHEN 3 THEN 'audio/mpeg'
                    WHEN 4 THEN 'video/mp4'
                    WHEN 5 THEN 'image/jpeg'
                    WHEN 6 THEN 'text/html'
                    WHEN 7 THEN 'application/octet-stream'
                END
            END AS mime
        FROM documents WHERE doc_id < 240
    """
    # normalization: same chain, literal unicode chars (the file is
    # UTF-8; DuckDB e-strings lack unicode escapes) + chr() zero-widths
    out["text_normalize"] = r"""
        WITH dirty AS (
            SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN text ||
                        e'\r\n' || 'end’s “q” — done… ' || e'\x07' || '!'
                     WHEN doc_id % 4 = 1 THEN text ||
                        '  a' || e'\t\t' || 'b' || chr(8203) || chr(65279)
                        || 'c' || e'\x01'
                     WHEN doc_id % 4 = 2 THEN text ||
                        e'\n\n\n\n' || '–d‘e’'
                     ELSE text END AS t
            FROM documents
        ),
        cleaned AS (
            SELECT doc_id, length(t) AS n_raw,
                trim(
                 regexp_replace(regexp_replace(
                  replace(replace(replace(replace(replace(replace(replace(
                   regexp_replace(regexp_replace(
                    regexp_replace(t, e'\r\n|\r', e'\n', 'g'),
                    '[' || chr(8203) || chr(8204) || chr(8205)
                        || chr(65279) || ']', '', 'g'),
                   e'[\x01-\x08\x0b\x0c\x0e-\x1f\x7f' || chr(128)
                       || '-' || chr(159) || ']', '', 'g'),
                  '’', chr(39)), '‘', chr(39)), '“', '"'),
                  '”', '"'), '—', '-'), '–', '-'),
                  '…', '...'),
                 e'[ \t]+', ' ', 'g'), e'\n\n\n+', e'\n\n', 'g')
                ) AS clean_text
            FROM dirty
        )
        SELECT doc_id, CAST(n_raw AS INT) AS n_raw, clean_text,
               CAST(length(clean_text) AS INT) AS n_clean
        FROM cleaned
    """
    # shard assignment: the naive global window IS the oracle
    out["shard_assignment"] = r"""
        SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_bytes,
            CAST(COALESCE(SUM(length(text)) OVER (
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) AS BIGINT) AS offset,
            CAST(COALESCE(SUM(length(text)) OVER (
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) // 4000 AS BIGINT) AS shard
        FROM documents
    """
    # resize: closed-form pixel sum of the NN-resampled pattern
    out["media_resize"] = r"""
        WITH ids AS (
            SELECT doc_id AS media_id FROM documents WHERE doc_id < 210
        ),
        px AS (
            SELECT i.media_id,
                (17 * ((x * 8) // 5) + 31 * ((y * 8) // 3)
                 + 7 * (i.media_id % 16)) % 256 AS g
            FROM ids i, generate_series(0, 4) AS t1(x),
                 generate_series(0, 2) AS t2(y)
            WHERE i.media_id < 200
        ),
        sums AS (SELECT media_id, SUM(3 * g) AS psum FROM px GROUP BY 1)
        SELECT i.media_id,
            i.media_id < 200 AS ok,
            CAST(CASE WHEN i.media_id < 200 THEN 5 END AS INT) AS width,
            CAST(CASE WHEN i.media_id < 200 THEN 3 END AS INT) AS height,
            CAST(CASE WHEN i.media_id < 200 THEN 11 + 45 END AS INT)
                AS n_bytes,
            CAST(s.psum AS BIGINT) AS pixel_sum
        FROM ids i LEFT JOIN sums s USING (media_id)
    """
    # audio resample: closed-form |sample| sum of the NN-resampled pattern
    out["audio_resample"] = r"""
        WITH ids AS (
            SELECT doc_id AS media_id,
                8000 + (doc_id % 3) * 4000 AS rate,
                (64 * 8000) // (8000 + (doc_id % 3) * 4000) AS out_n
            FROM documents WHERE doc_id < 210
        ),
        s AS (
            SELECT i.media_id,
                abs(((13 * ((j * 64) // i.out_n)
                      + 7 * (i.media_id % 16)) % 503) - 251) AS a
            FROM ids i, generate_series(0, 63) AS t(j)
            WHERE i.media_id < 200 AND j < i.out_n
        ),
        sums AS (SELECT media_id, SUM(a) AS ssum FROM s GROUP BY 1)
        SELECT i.media_id,
            i.media_id < 200 AS ok,
            CAST(CASE WHEN i.media_id < 200 THEN 1 END AS INT)
                AS n_channels,
            CAST(CASE WHEN i.media_id < 200 THEN 8000 END AS INT)
                AS sample_rate,
            CAST(CASE WHEN i.media_id < 200 THEN i.out_n END AS INT)
                AS n_frames,
            CAST(m.ssum AS BIGINT) AS sample_abs_sum
        FROM ids i LEFT JOIN sums m USING (media_id)
    """
    # epoch expansion: same integer md5 uniform, unnested range
    out["epoch_expand"] = r"""
        WITH f AS (
            SELECT doc_id, source,
                CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 1.5
                     WHEN 'src2' THEN 0.25 ELSE 1.0 END AS ep,
                CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                    || ':42'), 1, 8) AS UBIGINT) AS DOUBLE)
                    / 4294967296.0 AS u
            FROM documents
        ),
        n AS (
            SELECT doc_id, source,
                CAST(FLOOR(ep) + CASE WHEN u < ep - FLOOR(ep)
                                      THEN 1 ELSE 0 END AS BIGINT)
                    AS n_copies
            FROM f
        )
        SELECT doc_id, source, n_copies,
            CAST(unnest(range(0, n_copies)) AS INT) AS epoch_ix
        FROM n WHERE n_copies > 0
    """
    # Kneser-Ney: same statistics, same operation tree
    out["kneser_ney_lm"] = r"""
        WITH toks AS (
            SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                         '[ \t\n\r\f\x0b]+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        bi AS (
            SELECT unnest(list_transform(
                range(1, len(t)), i -> [t[i], t[i+1]])) AS p
            FROM toks WHERE len(t) >= 2
        ),
        pairs AS (SELECT p[1] AS w1, p[2] AS w2 FROM bi),
        pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM pairs GROUP BY 1, 2),
        l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c_w1,
                     CAST(COUNT(*) AS BIGINT) AS n1_fwd
              FROM pc GROUP BY 1),
        r AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_bwd
              FROM pc GROUP BY 1),
        ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM pc)
        SELECT pc.w1, pc.w2, pc.cnt,
            ROUND(
              GREATEST(CAST(pc.cnt AS DOUBLE) - 0.75, 0.0)
                / CAST(l.c_w1 AS DOUBLE)
              + (0.75 * CAST(l.n1_fwd AS DOUBLE)
                 / CAST(l.c_w1 AS DOUBLE))
                * (CAST(r.n1_bwd AS DOUBLE)
                   / CAST(ty.n_types AS DOUBLE)),
            9) AS prob
        FROM pc JOIN l USING (w1) JOIN r USING (w2), ty
        WHERE pc.cnt >= 3
    """
    # winnowing: same md5-derived hashes; rightmost min via reversed slice
    out["winnow_fingerprints"] = r"""
        WITH g AS (
            SELECT doc_id,
                list_transform(
                    range(1, greatest(length(text) - 8, 0) + 1),
                    i -> CAST(CAST('0x' || substr(md5(
                        substr(text, CAST(i AS INT), 9)), 1, 8)
                        AS UBIGINT) AS BIGINT)
                ) AS hs
            FROM documents WHERE doc_id < 50
        ),
        sel AS (
            SELECT doc_id, list_transform(
                range(1, greatest(len(hs) - 3, 0) + 1),
                s -> [
                    CAST(s + 4 - list_position(
                        list_reverse(hs[s:s+3]),
                        list_aggregate(hs[s:s+3], 'min')) AS BIGINT),
                    list_aggregate(hs[s:s+3], 'min')
                ]) AS sels
            FROM g
        )
        SELECT DISTINCT doc_id, p[1] AS pos, p[2] AS fp
        FROM (SELECT doc_id, unnest(sels) AS p FROM sel)
    """
    # sequence assembly: naive prefix-sum window + ordered list agg
    out["seq_assembly"] = r"""
        WITH toks AS (
            SELECT doc_id,
                CAST(CASE WHEN trim(text) = '' THEN 0 ELSE
                    len(list_filter(regexp_split_to_array(trim(text),
                        '[ \t\n\r\f\x0b]+'), x -> x <> '')) END
                    + 1 AS BIGINT) AS n_tok
            FROM documents
        ),
        cum AS (
            SELECT doc_id, n_tok,
                CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS start
            FROM toks
        ),
        spans AS (
            SELECT c.doc_id, c.start, c.start + c.n_tok AS fin,
                   unnest(range(c.start // 256,
                                (c.start + c.n_tok - 1) // 256 + 1))
                       AS seq_id
            FROM cum c
        ),
        sl AS (
            SELECT seq_id, doc_id,
                CAST(GREATEST(start, seq_id * 256) - seq_id * 256
                     AS INT) AS seq_off,
                CAST(LEAST(fin, seq_id * 256 + 256)
                     - GREATEST(start, seq_id * 256) AS INT) AS n_toks
            FROM spans
        )
        SELECT seq_id,
            CAST(COUNT(*) AS INT) AS n_docs,
            CAST(SUM(n_toks) AS INT) AS n_toks,
            array_to_string(list(CAST(doc_id AS VARCHAR)
                ORDER BY seq_off, doc_id), ',') AS doc_ids,
            array_to_string(list(CAST(seq_off AS VARCHAR)
                ORDER BY seq_off, doc_id), ',') AS boundaries
        FROM sl GROUP BY seq_id
    """
    # corpus report: the training_mix oracle wrapped in the rollup
    out["corpus_report"] = (
        "WITH tm AS (" + out["training_mix"] + """)
        SELECT source,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_exact_dup,
            CAST(SUM(CASE WHEN is_near_dup THEN 1 ELSE 0 END) AS BIGINT)
                AS n_near_dup,
            CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
                AS n_contaminated,
            CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT)
                AS n_quality_ok,
            CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
                AS n_selected,
            ROUND(CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*), 6) AS quality_rate,
            ROUND(CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*), 6) AS selection_rate
        FROM tm GROUP BY source"""
    )
    # incremental near-dup: exact cross-split char-gram Jaccard (same
    # oracle-by-construction argument as minhash_neardups — LSH recall
    # ≈ 1 on the bimodal fixture, verification filters to truth)
    out["minhash_incremental"] = r"""
        WITH grams AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, greatest(length(text) - 8, 1) + 1, 3),
                i -> substr(text, CAST(i AS INT), 9))) AS g
            FROM documents
        )
        SELECT n.doc_id AS new_id, r.doc_id AS ref_id,
            ROUND(CAST(len(list_intersect(n.g, r.g)) AS DOUBLE)
                  / len(list_distinct(list_concat(n.g, r.g))), 6) AS jaccard
        FROM grams n JOIN grams r
          ON (n.doc_id % 10) >= 8 AND (r.doc_id % 10) < 8
        WHERE CAST(len(list_intersect(n.g, r.g)) AS DOUBLE)
              / len(list_distinct(list_concat(n.g, r.g))) >= 0.5
    """
    # script composition: literal-range char classes (probed
    # bit-identical Java-regex vs RE2), counts via regexp_extract_all
    # (DuckDB has no regexp_count), same deterministic tie-break
    out["script_profile"] = r"""
        WITH aug AS (
            SELECT doc_id, text ||
                CASE
                    WHEN doc_id % 5 = 1 THEN ' これはてすとです'
                    WHEN doc_id % 5 = 2 THEN ' Этотексттест'
                    WHEN doc_id % 5 = 3 THEN repeat('中文文本', 80)
                    WHEN doc_id % 5 = 4 THEN ' テストカタカナ文字'
                    ELSE ''
                END AS text
            FROM documents
        ),
        c AS (
            SELECT doc_id, length(text) AS n_chars,
                CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_latin,
                CAST(len(regexp_extract_all(text, '[一-鿿]')) AS BIGINT) AS n_cjk,
                CAST(len(regexp_extract_all(text, '[぀-ゟ]')) AS BIGINT) AS n_hiragana,
                CAST(len(regexp_extract_all(text, '[゠-ヿ]')) AS BIGINT) AS n_katakana,
                CAST(len(regexp_extract_all(text, '[가-힣]')) AS BIGINT) AS n_hangul,
                CAST(len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
                CAST(len(regexp_extract_all(text, '[Ͱ-Ͽ]')) AS BIGINT) AS n_greek,
                CAST(len(regexp_extract_all(text, '[؀-ۿ]')) AS BIGINT) AS n_arabic,
                CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
            FROM aug
        )
        SELECT doc_id, n_chars,
            n_latin, n_cjk, n_hiragana, n_katakana, n_hangul,
            n_cyrillic, n_greek, n_arabic, n_digit,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_latin AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS latin_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_cjk AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS cjk_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_hiragana AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS hiragana_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_katakana AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS katakana_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_hangul AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS hangul_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_cyrillic AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS cyrillic_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_greek AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS greek_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_arabic AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS arabic_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS digit_ratio,
            CASE
                WHEN greatest(n_latin, n_cjk, n_hiragana, n_katakana,
                              n_hangul, n_cyrillic, n_greek, n_arabic,
                              n_digit) = 0 THEN 'none'
                WHEN n_latin = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'latin'
                WHEN n_cjk = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'cjk'
                WHEN n_hiragana = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'hiragana'
                WHEN n_katakana = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'katakana'
                WHEN n_hangul = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'hangul'
                WHEN n_cyrillic = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'cyrillic'
                WHEN n_greek = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'greek'
                WHEN n_arabic = greatest(n_latin, n_cjk, n_hiragana,
                    n_katakana, n_hangul, n_cyrillic, n_greek, n_arabic,
                    n_digit) THEN 'arabic'
                ELSE 'digit'
            END AS dominant_script
        FROM c
    """
    # KN LM applied per-doc: the kneser_ney_lm statistics at
    # min_count=10, then order-independent per-doc reductions (the
    # count/min discipline — no float accumulation anywhere)
    out["kn_doc_quality"] = r"""
        WITH toks AS (
            SELECT doc_id,
                list_filter(regexp_split_to_array(lower(trim(text)),
                                         '[ \t\n\r\f\x0b]+'),
                            x -> x <> '') AS t
            FROM documents
        ),
        bi AS (
            SELECT doc_id, unnest(list_transform(
                range(1, len(t)), i -> [t[i], t[i+1]])) AS p
            FROM toks WHERE len(t) >= 2
        ),
        dbg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bi),
        pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM dbg GROUP BY 1, 2),
        l AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c_w1,
                     CAST(COUNT(*) AS BIGINT) AS n1_fwd
              FROM pc GROUP BY 1),
        r AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_bwd
              FROM pc GROUP BY 1),
        ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM pc),
        lm AS (
            SELECT pc.w1, pc.w2,
                ROUND(
                  GREATEST(CAST(pc.cnt AS DOUBLE) - 0.75, 0.0)
                    / CAST(l.c_w1 AS DOUBLE)
                  + (0.75 * CAST(l.n1_fwd AS DOUBLE)
                     / CAST(l.c_w1 AS DOUBLE))
                    * (CAST(r.n1_bwd AS DOUBLE)
                       / CAST(ty.n_types AS DOUBLE)),
                9) AS prob
            FROM pc JOIN l USING (w1) JOIN r USING (w2), ty
            WHERE pc.cnt >= 10
        ),
        per AS (
            SELECT g.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                CAST(SUM(CASE WHEN lm.prob IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_modeled,
                CAST(SUM(CASE WHEN lm.prob < 0.02 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rare,
                MIN(lm.prob) AS min_prob
            FROM dbg g LEFT JOIN lm USING (w1, w2) GROUP BY 1
        )
        SELECT d.doc_id,
            COALESCE(per.n_bigrams, 0) AS n_bigrams,
            COALESCE(per.n_modeled, 0) AS n_modeled,
            COALESCE(per.n_rare, 0) AS n_rare,
            per.min_prob,
            ROUND(CASE WHEN COALESCE(per.n_bigrams, 0) > 0
                  THEN CAST(per.n_modeled AS DOUBLE)
                       / CAST(per.n_bigrams AS DOUBLE)
                  ELSE 0.0 END, 6) AS coverage,
            ROUND(CASE WHEN COALESCE(per.n_modeled, 0) > 0
                  THEN CAST(per.n_rare AS DOUBLE)
                       / CAST(per.n_modeled AS DOUBLE)
                  ELSE 0.0 END, 6) AS rare_ratio,
            COALESCE(per.n_bigrams, 0) > 0
              AND (CASE WHEN COALESCE(per.n_bigrams, 0) > 0
                   THEN CAST(per.n_modeled AS DOUBLE)
                        / CAST(per.n_bigrams AS DOUBLE)
                   ELSE 0.0 END) >= 0.95
              AND (CASE WHEN COALESCE(per.n_modeled, 0) > 0
                   THEN CAST(per.n_rare AS DOUBLE)
                        / CAST(per.n_modeled AS DOUBLE)
                   ELSE 0.0 END) <= 0.1 AS kn_ok
        FROM documents d LEFT JOIN per USING (doc_id)
    """
    # kmeans_embeddings: the oracle unrolls all 3 Lloyd iterations as
    # CTEs — an independent integral k-means (operators/kmeans.py
    # contract), bit-identical assignments, not a golden file.
    from xrpl_rich_list_py_crawler_spark.operators.kmeans import (
        kmeans_oracle_sql,
    )

    out["kmeans_embeddings"] = kmeans_oracle_sql(
        table="embeddings", k=8, n_iter=3, dim=64
    )
    # ccnet_buckets: reuse the kn_doc_quality oracle as the scoring CTE,
    # derive the exact integer quality keys, then the NAIVE cumulative
    # window — the Spark side runs the two-phase prefix-sum scale plan
    # and must compute the identical layout (the seq_packing pattern).
    out["ccnet_buckets"] = f"""
        WITH kn AS ({out["kn_doc_quality"]}),
        sized AS (
            SELECT kn.doc_id,
                   CAST(length(d.text) AS BIGINT) AS n_chars,
                   CAST(CASE WHEN kn.n_modeled > 0
                        THEN (kn.n_rare * 1000000000) // kn.n_modeled
                        ELSE 1000000000 END AS BIGINT) AS qk_rare,
                   CAST(CASE WHEN kn.n_bigrams > 0
                        THEN (kn.n_modeled * 1000000000) // kn.n_bigrams
                        ELSE 0 END AS BIGINT) AS qk_cov
            FROM kn JOIN documents d USING (doc_id)
        ),
        tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS t FROM sized),
        c AS (
            SELECT doc_id, n_chars, qk_rare, qk_cov,
                   CAST(COALESCE(SUM(n_chars) OVER (
                       ORDER BY qk_rare, qk_cov DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM sized
        )
        SELECT doc_id, n_chars, qk_rare, qk_cov, cum_before,
               CASE WHEN 3 * cum_before < (SELECT t FROM tot) THEN 'head'
                    WHEN 3 * cum_before < 2 * (SELECT t FROM tot)
                        THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM c
    """
    # exact heavy hitters: plain HAVING count·k > total — the Spark side
    # runs THROUGH the Misra–Gries prefilter, so a green row value-checks
    # the candidate pass's no-false-negative guarantee
    out["heavy_hitters"] = r"""
        WITH toks AS (
            SELECT unnest(list_filter(regexp_split_to_array(
                lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                x -> x <> '')) AS token
            FROM documents
        )
        SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
        HAVING COUNT(*) * 35 > (SELECT COUNT(*) FROM toks)
    """
    out["stratified_sample"] = r"""
        SELECT doc_id, lang, rn FROM (
            SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (
                PARTITION BY lang ORDER BY
                    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                        || ':42'), 1, 8) AS UBIGINT) AS BIGINT),
                    doc_id) AS INT) AS rn
            FROM documents
        ) WHERE rn <= 25
    """
    # the twin re-derives hashed_bow_score's exact-integer raw score,
    # ranks with the single-window form (equal by the global_rank law),
    # and applies the same explicit-floor tile formula
    out["threshold_sweep"] = r"""
        WITH toks AS (
            SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(
                    lower(trim(text)), '[ \t\n\r\f\x0b]+'),
                    x -> x <> '')) AS term
            FROM documents
        ),
        b AS (
            SELECT doc_id,
                CAST(CAST('0x' || substr(md5(term), 1, 8) AS UBIGINT)
                    AS BIGINT) % 4096 AS bucket
            FROM toks
        ),
        per AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM((bucket * 2654435761) % 2001 - 1000) AS BIGINT)
                    AS raw
            FROM b GROUP BY doc_id
        ),
        scored AS (
            SELECT d.doc_id,
                COALESCE(p.n_tokens, 0) AS n_tokens,
                COALESCE(p.raw, 0) AS raw
            FROM documents d LEFT JOIN per p USING (doc_id)
        ),
        ranked AS (
            SELECT raw, n_tokens,
                ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS rnk,
                COUNT(*) OVER () AS n,
                CAST(SUM(n_tokens) OVER () AS BIGINT) AS tw
            FROM scored
        ),
        tiled AS (
            SELECT CAST(floor((rnk - 1) * 10 / n) + 1 AS BIGINT) AS tile,
                raw, n_tokens, n, tw
            FROM ranked
        ),
        per_tile AS (
            SELECT tile, MIN(raw) AS cut_score,
                CAST(COUNT(*) AS BIGINT) AS tile_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS tile_weight,
                ANY_VALUE(n) AS n, ANY_VALUE(tw) AS tw
            FROM tiled GROUP BY tile
        )
        SELECT CAST(tile AS INT) AS tile, cut_score,
            CAST(SUM(tile_docs) OVER w AS BIGINT) AS docs_retained,
            CAST(SUM(tile_weight) OVER w AS BIGINT) AS weight_retained,
            ROUND(CAST(SUM(tile_docs) OVER w AS DOUBLE) / n, 6)
                AS pct_docs,
            ROUND(CAST(SUM(tile_weight) OVER w AS DOUBLE) / tw, 6)
                AS pct_weight
        FROM per_tile
        WINDOW w AS (ORDER BY tile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    # compaction oracle = a clean from-scratch index of the FINAL
    # snapshot (s2): the strongest check — the folded delta stack must
    # reproduce a rebuild exactly, posting row for posting row
    out["postings_compact"] = r"""
        SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(regexp_split_to_array(lower(trim(
                CASE WHEN doc_id % 5 = 0 THEN text || ' upd2'
                     WHEN doc_id % 7 = 0 THEN text || ' upd1'
                     ELSE text END)), '[ \t\n\r\f\x0b]+')) AS token
            FROM documents
        ) WHERE token <> '' GROUP BY 1, 2
    """
    # same md5 power-of-two uniform as hash/stratified_sample; the A-ES
    # key ln(u)/w is IEEE-double on identical inputs in both engines and
    # is emitted ROUNDed to 9 (the bm25/HLL ln precedent)
    out["weighted_sample"] = r"""
        SELECT doc_id, lang, n_chars, rn, aes_key FROM (
            SELECT doc_id, lang, n_chars,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY lang ORDER BY aes DESC, doc_id
                ) AS INT) AS rn,
                ROUND(aes, 9) AS aes_key
            FROM (
                SELECT doc_id, lang, n_chars,
                    ln((CAST(CAST('0x' || substr(
                            md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)
                        AS UBIGINT) AS BIGINT) + 1.0) / 4294967296.0)
                    / CAST(n_chars AS DOUBLE) AS aes
                FROM documents WHERE n_chars > 0
            )
        ) WHERE rn <= 20
    """
    # the single-window rank form (equal to the engine's two-phase
    # global_rank by the pinned law) + the naive rank-distance self join
    out["snm_pairs"] = r"""
        WITH ranked AS (
            SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY lower(substr(text, 1, 40)), doc_id
            ) AS rnk
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(a.rnk AS BIGINT) AS rank_a,
               CAST(b.rnk AS BIGINT) AS rank_b
        FROM ranked a JOIN ranked b
          ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
    """
    # one codegen regexp_extract_all per page; RE2 (DuckDB) and Java
    # agree on this tag grammar — the robots/sitemap/PII fuzz precedent
    out["template_fingerprint"] = f"""
        WITH per_page AS (
            SELECT url,
                md5(array_to_string(regexp_extract_all(
                    lower(CAST(html AS VARCHAR)),
                    '<([a-z][a-z0-9]*)', 1), ' ')) AS template_md5,
                CAST(len(regexp_extract_all(
                    lower(CAST(html AS VARCHAR)),
                    '<([a-z][a-z0-9]*)', 1)) AS BIGINT) AS n_tags
            FROM {PAGES}
        )
        SELECT template_md5, COUNT(*) AS n_pages, MIN(n_tags) AS n_tags,
               MIN(url) AS sample_url, COUNT(*) >= 2 AS is_boilerplate
        FROM per_page GROUP BY 1
    """
    # margins are bit-identical: cosines are rounded to 6 BEFORE any
    # margin math and the top-k mean is a RUNNING sum over the
    # (cos desc, id) window — both engines add the same doubles in the
    # same order
    out["margin_pairs"] = r"""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 200
        ),
        a AS (SELECT vec_id AS id_a, v AS va FROM emb WHERE vec_id % 2 = 0),
        b AS (SELECT vec_id AS id_b, v AS vb FROM emb WHERE vec_id % 2 <> 0),
        pairs AS (
            SELECT id_a, id_b,
                ROUND(list_cosine_similarity(va, vb), 6) AS cos
            FROM a CROSS JOIN b
        ),
        ra AS (
            SELECT id_a, id_b, cos,
                ROW_NUMBER() OVER (
                    PARTITION BY id_a ORDER BY cos DESC, id_b) AS rk,
                SUM(cos) OVER (
                    PARTITION BY id_a ORDER BY cos DESC, id_b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                COUNT(*) OVER (PARTITION BY id_a) AS n
            FROM pairs
        ),
        dena AS (SELECT id_a, cum / rk AS avg_a FROM ra
                 WHERE rk = LEAST(4, n)),
        rb AS (
            SELECT id_b, id_a, cos,
                ROW_NUMBER() OVER (
                    PARTITION BY id_b ORDER BY cos DESC, id_a) AS rk,
                SUM(cos) OVER (
                    PARTITION BY id_b ORDER BY cos DESC, id_a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                COUNT(*) OVER (PARTITION BY id_b) AS n
            FROM pairs
        ),
        denb AS (SELECT id_b, cum / rk AS avg_b FROM rb
                 WHERE rk = LEAST(4, n)),
        best AS (SELECT id_a, id_b, cos FROM ra WHERE rk = 1)
        SELECT best.id_a, best.id_b, cos AS cosine,
               ROUND(2.0 * cos / (avg_a + avg_b), 6) AS margin,
               2.0 * cos / (avg_a + avg_b) >= 1.0 AS is_aligned
        FROM best
        JOIN dena USING (id_a) JOIN denb USING (id_b)
    """
    return out
