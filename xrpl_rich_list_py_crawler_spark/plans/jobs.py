"""The analytics job chain: every ``function.sql`` procedure as a
DataFrame job (SURVEY.md §2.9, §3.2).

Determinism discipline (F12, ``SURVEY.md §7.4``): nothing here calls
``current_timestamp()``. Where the reference stamps ``CURRENT_TIMESTAMP``
(``function.sql:218`` etc.) these jobs stamp the *latest summary
created_at*, so reruns are idempotent and DuckDB oracles can reproduce
values exactly.

Scale notes: these are small queries, bound by Spark's per-job and
per-stage cost rather than by rows. The lookback-timestamp resolution — a
handful of scalar subqueries per procedure in the reference — is two
one-row aggregate jobs (:func:`_lookback_targets`), which a refresh runs
once and hands to all four change tables. Each change table is then ONE
aggregation over the summary rows at the latest and the ≤5 lookback
timestamps, a conditional aggregate per timestamp, whose one row per label
or dimension value explodes into the five horizon rows.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import canonical_label_col, safe_ratio_col
from ..operators.asof import latest_per_key

HORIZONS = [1, 3, 24, 168, 720]

#: ``(latest, {horizon: target timestamp or None})`` of a summary
Lookback = tuple[_dt.datetime | None, dict[int, _dt.datetime | None]]


def _dec(col: str):
    """Exact money arithmetic: DECIMAL(20,6) like the reference DDL
    (table.sql:6-7). Decimal sums are order-independent, so Spark and any
    oracle engine agree bit-for-bit — double sums do not (summation-order
    ulps flip ROUND ties)."""
    return F.col(col).cast("decimal(20,6)")


# ---------------------------------------------------------------------------
# update_rich_list_summary (function.sql:2-94)
# ---------------------------------------------------------------------------


def summary_series(richlist: DataFrame) -> DataFrame:
    """The full hourly summary history (what 48 cron invocations of
    ``update_rich_list_summary`` accumulate): the canonicalized-label
    aggregate (A2 + F5 + P5) grouped by snapshot too. One shuffle; partial
    aggregation is automatic."""
    return (
        richlist.groupBy(
            canonical_label_col(F.col("label")).alias("grouped_label"),
            F.col("snapshot_date").alias("created_at"),
        )
        .agg(
            F.count("*").alias("count"),
            F.sum(_dec("balance_xrp")).alias("total_balance"),
            F.sum(_dec("escrow_xrp")).alias("total_escrow"),
            F.sum(_dec("balance_xrp") + _dec("escrow_xrp")).alias("total_xrp"),
        )
        .select(
            "grouped_label", "count", "total_balance", "total_escrow",
            "total_xrp", "created_at",
        )
    )


def rich_list_summary(richlist: DataFrame) -> DataFrame:
    """≅ ``update_rich_list_summary`` (``function.sql:2-94``): latest-snapshot
    scalar subquery → 29-branch CASE grouping → COUNT/SUM×3, i.e.
    :func:`summary_series` over the latest snapshot only."""
    latest = richlist.agg(F.max("snapshot_date").alias("_ts"))
    return summary_series(
        richlist.join(
            F.broadcast(latest), richlist["snapshot_date"] == latest["_ts"]
        ).drop("_ts")
    )


# ---------------------------------------------------------------------------
# update_balance_changes / update_available_changes (function.sql:97-404)
# ---------------------------------------------------------------------------


def _lookback_targets(summary: DataFrame) -> Lookback:
    """Resolve the five global lookback timestamps.

    The reference's subqueries correlate only on the latest ``created_at``
    (``function.sql:158-205``): for each horizon H pick the latest summary
    timestamp ≤ latest−H hours — except H=1, which uses the jitter band
    (latest−70min, latest−45min] (``function.sql:160-165``).

    Resolution is fully distributed — two tiny aggregate jobs collecting
    ONE row each (the Spark analog of Postgres evaluating five scalar
    subqueries). Earlier versions collected the whole distinct-timestamp
    list, which silently depended on retention keeping the series short
    (VERDICT r02 What's-wrong #4); conditional maxes have no such bound.
    """
    latest_row = summary.agg(F.max("created_at").alias("ts")).collect()[0]
    latest = latest_row["ts"]
    if latest is None:
        return None, {h: None for h in HORIZONS}
    ts = F.col("created_at")
    aggs = []
    for h in HORIZONS:
        if h == 1:
            lo = latest - _dt.timedelta(minutes=70)
            hi = latest - _dt.timedelta(minutes=45)
            cond = (ts > F.lit(lo)) & (ts <= F.lit(hi))
        else:
            cond = ts <= F.lit(latest - _dt.timedelta(hours=h))
        aggs.append(F.max(F.when(cond, ts)).alias(f"h{h}"))
    row = summary.agg(*aggs).collect()[0]
    targets = {h: row[f"h{h}"] for h in HORIZONS}
    return latest, targets


def _horizon_changes(rows: DataFrame, key, agg, cols: list[str], cur: str,
                     latest, targets) -> DataFrame:
    """Shared engine of the four change tables, one pass over ``rows``.

    ONE aggregation by ``key`` over the rows at ``latest`` or a lookback
    target: ``agg`` of each of ``cols`` at ``latest``, and of ``cur`` at
    each horizon's target. Keys without a row at ``latest`` drop out. Five
    (hours, prev_raw) structs then explode each key into its horizon rows,
    which diff current ``cur`` against prev_raw with COALESCE-to-current
    for missing history (F9) and the div-by-zero guard (F8). An empty
    summary (``latest`` None) matches no row, so the table comes back empty
    with the schema of a full one.
    """
    ts = F.col("created_at")
    at = F.lit(latest).cast("timestamp")
    now = ts == at
    stamps = [at, *{t for t in targets.values() if t is not None}]
    wide = (
        rows.filter(ts.isin(*stamps))
        .groupBy(key.alias("grouped_label"))
        .agg(
            F.max(now).alias("_now"),
            *[agg(F.when(now, F.col(c))).alias(c) for c in cols],
            *[agg(F.when(ts == F.lit(t), F.col(cur))).alias(f"_prev{h}")
              for h, t in targets.items() if t is not None],
        )
        .filter("_now")
    )
    null = F.lit(None).cast(wide.schema[cur].dataType)
    horizons = F.array(*[
        F.struct(
            F.lit(h).alias("hours"),
            (null if targets[h] is None else F.col(f"_prev{h}")).alias("prev_raw"),
        )
        for h in HORIZONS
    ])
    prev = F.coalesce(F.col("_h.prev_raw"), F.col(cur))
    curd, prevd = F.col(cur).cast("double"), prev.cast("double")
    return wide.withColumn("_h", F.explode(horizons)).select(
        "grouped_label",
        F.col("_h.hours").alias("hours"),
        *cols,
        (F.col(cur) - prev).alias("balance_change"),
        F.round(safe_ratio_col(curd, prevd), 6).alias("percentage_change"),
        at.alias("calculated_at"),
    )


def _changes(summary: DataFrame, value_col: str,
             lookback: Lookback | None = None) -> DataFrame:
    """Balance/available changes per label: :func:`_horizon_changes` with a
    conditional max, as a label has one summary row per timestamp."""
    latest, targets = lookback or _lookback_targets(summary)
    return _horizon_changes(
        summary, F.col("grouped_label"), F.max, [value_col], value_col,
        latest, targets,
    ).drop(value_col)


def balance_changes(summary: DataFrame,
                    lookback: Lookback | None = None) -> DataFrame:
    """≅ ``update_balance_changes`` (``function.sql:97-249``): total_xrp
    deltas at 5 horizons, banded 1h, unpivoted to (label, hours) rows.
    ``lookback`` is ``_lookback_targets(summary)`` when the caller has it
    already."""
    return _changes(summary, "total_xrp", lookback)


def available_changes(summary: DataFrame,
                      lookback: Lookback | None = None) -> DataFrame:
    """≅ ``update_available_changes`` (``function.sql:252-404``): same over
    escrow-free ``total_balance``."""
    return _changes(summary, "total_balance", lookback)


# ---------------------------------------------------------------------------
# update_category_changes / update_country_changes (function.sql:425-855)
# ---------------------------------------------------------------------------


def _dim_changes(summary: DataFrame, categories: DataFrame, dim: str,
                 lookback: Lookback | None = None) -> DataFrame:
    """Two-level rollup (A4) + as-of changes per category/country.

    ≅ ``update_category_changes`` (``function.sql:425-636``) and
    ``update_country_changes`` (``function.sql:639-855``): the summary
    joins the (broadcast) categories dim and :func:`_horizon_changes` rolls
    it up to the dimension with a conditional sum per timestamp, the
    current totals and each lookback total in the same aggregation. A
    dimension value with no label at a target has no previous total there
    and coalesces to current.
    """
    latest, targets = lookback or _lookback_targets(summary)
    return _horizon_changes(
        summary.join(F.broadcast(categories), "grouped_label"),
        F.col(dim), F.sum,
        ["count", "total_balance", "total_escrow", "total_xrp"], "total_xrp",
        latest, targets,
    )


def category_changes(summary: DataFrame, categories: DataFrame,
                     lookback: Lookback | None = None) -> DataFrame:
    return _dim_changes(summary, categories, "category", lookback)


def country_changes(summary: DataFrame, categories: DataFrame,
                    lookback: Lookback | None = None) -> DataFrame:
    return _dim_changes(summary, categories, "country", lookback)


# ---------------------------------------------------------------------------
# hourly statistics (function.sql:858-948, 969-1061)
# ---------------------------------------------------------------------------


def _hourly(summary3d: DataFrame) -> DataFrame:
    """date_trunc-hour bucketing (T1/F10) + dedup (A6) — idempotent like the
    reference's ON CONFLICT upsert (T2): recompute replaces, never dups."""
    return summary3d.withColumn(
        "created_at", F.date_trunc("hour", F.col("created_at"))
    )


def _dim_statistics(summary: DataFrame, categories: DataFrame, now,
                    dim: str) -> DataFrame:
    """≅ ``update_category_statistics`` (``function.sql:969-999``) and
    ``update_country_statistics`` (``function.sql:1002-1032``): the last 3
    days of the summary, bucketed by hour and rolled up to ``dim`` through
    the (broadcast) categories dim."""
    return (
        _hourly(delete_old_statistics(summary, now))
        .join(F.broadcast(categories), "grouped_label")
        .groupBy(F.col(dim).alias("grouped_label"), "created_at")
        .agg(
            F.sum("count").alias("count"),
            F.sum("total_balance").alias("total_balance"),
            F.sum("total_escrow").alias("total_escrow"),
            F.sum("total_xrp").alias("total_xrp"),
        )
        .select(
            "grouped_label", "count", "total_balance", "total_escrow",
            "total_xrp", "created_at",
        )
    )


def category_statistics(summary: DataFrame, categories: DataFrame, now) -> DataFrame:
    return _dim_statistics(summary, categories, now, "category")


def country_statistics(summary: DataFrame, categories: DataFrame, now) -> DataFrame:
    return _dim_statistics(summary, categories, now, "country")


def available_statistics(summary: DataFrame, now) -> DataFrame:
    """≅ ``update_available_statistics`` (``function.sql:1035-1061``):
    per-label hourly rows with ``total_xrp := total_balance`` (escrow-free),
    GROUP BY all projected columns = dedup-by-grouping (A6,
    ``function.sql:1050-1053``)."""
    return (
        _hourly(delete_old_statistics(summary, now))
        .select(
            "grouped_label", "count", "total_balance", "total_escrow",
            F.col("total_balance").alias("total_xrp"), "created_at",
        )
        .dropDuplicates(
            ["grouped_label", "count", "total_balance", "total_escrow",
             "total_xrp", "created_at"]
        )
    )


# ---------------------------------------------------------------------------
# retention (function.sql:408-422, 951-966) — P8/T3
# ---------------------------------------------------------------------------


def cleanup_old_rich_list_data(richlist: DataFrame, now) -> DataFrame:
    """≅ ``cleanup_old_rich_list_data`` (``function.sql:408-422``): drop
    snapshots older than 2 days. Spark deletes by filtered overwrite /
    partition drop (the catalog's expire_rounds does the physical part)."""
    return richlist.filter(
        F.col("snapshot_date")
        >= F.lit(now).cast("timestamp") - F.expr("INTERVAL 2 DAYS")
    )


def delete_old_statistics(summary: DataFrame, now) -> DataFrame:
    """≅ ``delete_old_statistics`` (``function.sql:951-966``): the 3-day
    window every hourly statistics table keeps. ``now`` None (an empty
    summary) keeps nothing."""
    return summary.filter(
        F.col("created_at")
        >= F.lit(now).cast("timestamp") - F.expr("INTERVAL 3 DAYS")
    )


# ---------------------------------------------------------------------------
# wide views + top-K alert (table.sql:254-293, function.sql:1084-1106)
# ---------------------------------------------------------------------------


def _pivot_horizons(changes: DataFrame, *keys: str) -> DataFrame:
    """J7 done idiomatically: the change rows per ``keys`` pivoted wide to
    ``change_{h}h`` / ``percentage_{h}h`` column pairs — ONE
    groupBy().pivot(hours) instead of the reference's five self-left-joins
    (one shuffle instead of five)."""
    wide = (
        changes.groupBy(*keys)
        .pivot("hours", HORIZONS)
        .agg(
            F.first("balance_change").alias("change"),
            F.first("percentage_change").alias("percentage"),
        )
    )
    return wide.withColumnsRenamed({
        f"{h}_{m}": f"{m}_{h}h" for h in HORIZONS for m in ("change", "percentage")
    })


def summary_with_changes(summary: DataFrame, changes: DataFrame) -> DataFrame:
    """≅ view ``xrpl_rich_list_summary_with_changes`` (``table.sql:254-293``):
    the latest summary rows with their horizons pivoted wide."""
    latest = summary.agg(F.max("created_at").alias("ts"))
    cur = summary.join(F.broadcast(latest), summary["created_at"] == latest["ts"]).drop("ts")
    return cur.join(_pivot_horizons(changes, "grouped_label"), "grouped_label", "left")


def dim_summary_with_changes(changes: DataFrame, dim: str) -> DataFrame:
    """≅ views ``xrpl_rich_list_category_summary_with_changes`` /
    ``…country_summary_with_changes`` (``table.sql:392-449, 452-511``):
    latest ``calculated_at`` per dimension value (J8 latest-per-key +
    join-back), horizons pivoted wide, presentation decorations, and a
    ROW_NUMBER id by descending total_xrp.

    The id window is a global window over the already-aggregated dimension
    table (≤ |categories| rows — hundreds), not over row-level data, so a
    plain window is the right plan here.
    """
    latest_keys = latest_per_key(
        changes.select("grouped_label", "calculated_at").distinct(),
        ["grouped_label"],
        "calculated_at",
    )
    latest = changes.join(
        F.broadcast(latest_keys), ["grouped_label", "calculated_at"]
    )
    wide = _pivot_horizons(
        latest, "grouped_label", "count", "total_balance", "total_escrow",
        "total_xrp", "calculated_at",
    )
    ent_cat = F.col("grouped_label") if dim == "category" else F.lit("-")
    ent_cty = F.col("grouped_label") if dim == "country" else F.lit("-")
    decorated = wide.select(
        "grouped_label", "count", "total_balance", "total_escrow", "total_xrp",
        F.col("calculated_at").alias("created_at"),
        F.col("total_xrp").alias("show_total_xrp"),
        ent_cat.alias("entity_category"),
        ent_cty.alias("entity_country"),
        *[c for h in HORIZONS for c in (f"change_{h}h", f"percentage_{h}h")],
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("total_xrp").desc(), F.col("grouped_label").asc())
    return decorated.withColumn("id", F.row_number().over(w))


def get_significant_changes(
    changes: DataFrame,
    percentage_threshold: float,
    amount_threshold: float,
) -> DataFrame:
    """≅ ``get_significant_changes`` (``function.sql:1084-1106``): the
    1-hour rows of :func:`balance_changes` past both ABS thresholds (P7)
    → top-5 by |percentage_1h| (O3, TakeOrderedAndProject)."""
    return (
        changes.filter(
            (F.col("hours") == 1)
            & (F.abs(F.col("percentage_change")) >= percentage_threshold)
            & (F.abs(F.col("balance_change")) >= amount_threshold)
        )
        .select(
            "grouped_label",
            F.col("balance_change").alias("change_1h"),
            F.col("percentage_change").alias("percentage_1h"),
        )
        .orderBy(F.abs(F.col("percentage_1h")).desc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# ANALYZE analog (function.sql:1064-1082)
# ---------------------------------------------------------------------------


def analyze_tables(spark: SparkSession, tables: dict[str, DataFrame]) -> DataFrame:
    """≅ ``analyze_rich_list_tables``: refresh planner statistics. For
    catalog tables this is ``ANALYZE TABLE … COMPUTE STATISTICS``; for
    in-flight DataFrames we emit the row-count stats a CBO would use.

    Returns ONE lazy union plan (a single Spark job when materialized),
    not len(tables) eager ``count()`` jobs — an eager loop re-executed
    every table's full derivation chain per count (r3 review finding)."""
    from functools import reduce

    if not tables:
        return spark.createDataFrame([], "table string, rows long")
    parts = [
        df.groupBy().agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit(name).alias("table"), "rows"
        )
        for name, df in tables.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def validate_category_enum(categories: DataFrame, enum: list[str]) -> int:
    """P9: CHECK-constraint job (Spark has no DDL CHECK,
    ``table.sql:84-97``). Returns the number of violating rows (must be 0)."""
    return categories.filter(~F.col("category").isin(enum)).count()
