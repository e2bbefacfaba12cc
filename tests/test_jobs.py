"""Analytics job chain (plans/jobs.py) — semantic invariants.

(Value-level equality against DuckDB oracles is covered by
scripts/check_correctness.py / the driver's CORRECTNESS gate; these tests
pin the *semantics* the oracles can't see: banded as-of target selection,
COALESCE-to-current, idempotence, enum validation.)
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from xrpl_rich_list_py_crawler_spark.plans import jobs
from xrpl_rich_list_py_crawler_spark.schemas import CATEGORY_ENUM


@pytest.fixture(scope="module")
def rich(spark, crawl_sf0001):
    return spark.read.parquet(os.path.join(crawl_sf0001, "richlist.parquet"))


@pytest.fixture(scope="module")
def cats(spark, crawl_sf0001):
    return spark.read.parquet(os.path.join(crawl_sf0001, "categories.parquet"))


@pytest.fixture(scope="module")
def summary(rich):
    return jobs.summary_series(rich).cache()


def test_summary_counts_partition_rows(rich, summary):
    """Sum of per-label counts per snapshot == rows per snapshot (A2)."""
    per_snap = summary.groupBy("created_at").agg(F.sum("count").alias("n"))
    raw = rich.groupBy("snapshot_date").agg(F.count("*").alias("m"))
    joined = per_snap.join(
        raw, per_snap["created_at"] == raw["snapshot_date"]
    )
    assert joined.filter(F.col("n") != F.col("m")).count() == 0


def test_lookback_targets_banded_1h(summary):
    """k=14 snapshot is shifted +7 min (FIXTURES.md §5): the 1h band
    (latest-70m, latest-45m] must still find the previous hourly snapshot;
    horizons beyond history → None."""
    latest, targets = jobs._lookback_targets(summary)
    assert targets[1] == latest - dt.timedelta(hours=1)
    assert targets[3] == latest - dt.timedelta(hours=3)
    assert targets[24] == latest - dt.timedelta(hours=24)
    # 47 hourly snapshots < 168h of history
    assert targets[168] is None and targets[720] is None


def test_changes_coalesce_to_current(summary):
    """Missing history (h168/h720) → change 0 / pct 0 (F9 COALESCE idiom,
    function.sql:125-131)."""
    ch = jobs.balance_changes(summary)
    far = ch.filter(F.col("hours").isin(168, 720))
    assert far.count() > 0
    assert far.filter(
        (F.col("balance_change") != 0) | (F.col("percentage_change") != 0)
    ).count() == 0
    near = ch.filter(F.col("hours") == 1)
    assert near.filter(F.col("balance_change") != 0).count() > 0


def test_changes_full_label_coverage(summary):
    """One row per (current label, horizon) — the reference's delete +
    full-recompute contract (T6, function.sql:105)."""
    ch = jobs.balance_changes(summary)
    latest = summary.agg(F.max("created_at")).collect()[0][0]
    n_labels = summary.filter(F.col("created_at") == latest).count()
    assert ch.count() == n_labels * len(jobs.HORIZONS)
    assert ch.select("grouped_label", "hours").distinct().count() == ch.count()


def test_hourly_statistics_idempotent(summary, cats):
    """T2 upsert semantics: recomputing produces the identical table."""
    now = summary.agg(F.max("created_at")).collect()[0][0]
    a = jobs.category_statistics(summary, cats, now)
    b = jobs.category_statistics(summary, cats, now)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_retention_windows(rich, summary):
    """P8/T3: 2-day raw retention keeps exactly the last 48h of snapshots."""
    now = rich.agg(F.max("snapshot_date")).collect()[0][0]
    kept = jobs.cleanup_old_rich_list_data(rich, now)
    oldest = kept.agg(F.min("snapshot_date")).collect()[0][0]
    assert oldest >= now - dt.timedelta(days=2)
    hourly = jobs.available_statistics(summary, now)
    assert (
        hourly.filter(
            F.col("created_at") < F.lit(now) - F.expr("INTERVAL 3 DAYS")
        ).count()
        == 0
    )


def test_significant_changes_topk(summary):
    """O3/P7: ≤5 rows, ordered by |pct| desc, all above thresholds."""
    ch = jobs.balance_changes(summary)
    out = jobs.get_significant_changes(ch, 0.05, 100).collect()
    assert 0 < len(out) <= 5
    pcts = [abs(r["percentage_1h"]) for r in out]
    assert pcts == sorted(pcts, reverse=True)
    assert all(abs(r["change_1h"]) >= 100 for r in out)


def test_category_enum_validation(cats):
    """P9 CHECK-constraint job: fixture categories all in the 10-value enum."""
    assert jobs.validate_category_enum(cats, CATEGORY_ENUM) == 0
    bad = cats.sparkSession.createDataFrame(
        [("X", "NotACategory", "US")], "grouped_label string, category string, country string"
    )
    assert jobs.validate_category_enum(bad, CATEGORY_ENUM) == 1


def test_summary_with_changes_wide_shape(summary):
    ch = jobs.balance_changes(summary)
    wide = jobs.summary_with_changes(summary, ch)
    cols = set(wide.columns)
    for h in jobs.HORIZONS:
        assert f"change_{h}h" in cols and f"percentage_{h}h" in cols
    latest = summary.agg(F.max("created_at")).collect()[0][0]
    assert wide.count() == summary.filter(F.col("created_at") == latest).count()


def test_refresh_chain_analyze_runs_last(spark, rich, cats):
    """T9 + U6: the refresh chain ends with the ANALYZE analog
    (uploader.py:303-326 invokes analyze_rich_list_tables last), reporting
    row stats for every table the chain rewrote."""
    from xrpl_rich_list_py_crawler_spark.plans.pipeline import refresh_analytics

    res = refresh_analytics(spark, rich, cats)
    assert res.steps_run[-1] == "analyze_tables"
    stats = {r["table"]: r["rows"] for r in res.table_stats.collect()}
    assert set(stats) == {
        "summary", "balance_changes", "available_changes",
        "category_changes", "country_changes", "category_statistics",
        "country_statistics", "available_statistics",
    }
    assert stats["summary"] == res.summary.count()
    assert all(n >= 0 for n in stats.values())


def test_refresh_and_alert_on_empty_richlist(spark, rich, cats):
    """An empty rich list runs the same plans as a full one: every table
    comes back empty with the schema of a non-empty refresh, ANALYZE reads
    0 rows everywhere, and the alert has no mover lines."""
    from xrpl_rich_list_py_crawler_spark.plans import pipeline

    full = pipeline.refresh_analytics(spark, rich, cats)
    empty = pipeline.refresh_analytics(spark, rich.limit(0), cats)
    tables = [
        "summary", "balance_changes", "available_changes", "category_changes",
        "country_changes", "category_statistics", "country_statistics",
        "available_statistics",
    ]

    def schema(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    for name in tables:
        got = getattr(empty, name)
        assert schema(got) == schema(getattr(full, name)), name
        assert got.count() == 0, name
    stats = {r["table"]: r["rows"] for r in empty.table_stats.collect()}
    assert stats == {name: 0 for name in tables}
    full.summary.unpersist()
    empty.summary.unpersist()

    txt = pipeline.significant_changes_alert(
        spark, rich.limit(0), 0.05, 100, 1767225600)
    assert txt.splitlines() == ["XRPL rich-list movers (1h):", "t=1767225600"]


def test_analyze_tables_empty_dict(spark):
    """ADVICE r03: an empty tables dict must return an empty stats frame,
    not raise TypeError from an initializer-less reduce."""
    out = jobs.analyze_tables(spark, {})
    assert out.columns == ["table", "rows"]
    assert out.count() == 0


# -- label churn on a hand-built summary -------------------------------------

L = dt.datetime(2026, 1, 3)
H = dt.timedelta(hours=1)
#: the summary_series schema at the committed fixtures
SUMMARY_DDL = (
    "grouped_label string, count bigint, total_balance decimal(30,6), "
    "total_escrow decimal(30,6), total_xrp decimal(31,6), "
    "created_at timestamp_ntz"
)


def _row(label, ts, xrp, count=1):
    from decimal import Decimal

    bal, esc = Decimal(xrp) - 1, Decimal(1)
    return (label, count, bal, esc, bal + esc, ts)


@pytest.fixture(scope="module")
def churn(spark):
    """Snapshots at L, L-1h, L-3h and L-24h (none far enough back for
    168h/720h). Stay lives throughout and is 0 at L-3h, Gone and Old leave
    before L, New arrives at L."""
    rows = [
        _row("Stay", L, 101, count=2), _row("Stay", L - H, 50),
        _row("Stay", L - 3 * H, 0), _row("Stay", L - 24 * H, 80),
        _row("Gone", L - H, 7), _row("Gone", L - 3 * H, 7),
        _row("Old", L - H, 3),
        _row("New", L, 9),
    ]
    summary = spark.createDataFrame(rows, SUMMARY_DDL)
    cats = spark.createDataFrame(
        [("Stay", "Exchange", "US"), ("Gone", "Exchange", "US"),
         ("Old", "Fund", "DE"), ("New", "Whale", "JP")],
        "grouped_label string, category string, country string",
    )
    return summary, cats


def _changes_by_key(df):
    return {
        (r["grouped_label"], r["hours"]):
            (float(r["balance_change"]), r["percentage_change"])
        for r in df.collect()
    }


#: horizons without history (or with an unchanged value) read 0 / 0
_FLAT = {h: (0.0, 0.0) for h in jobs.HORIZONS}


def test_balance_changes_label_churn(churn):
    """A label absent at latest gets no row; a label new at latest reads
    0 / 0 at every horizon; missing targets (168h, 720h) coalesce to
    current; a zero previous value takes the div-by-zero guard."""
    summary, _ = churn
    got = _changes_by_key(jobs.balance_changes(summary))
    want = {("New", h): v for h, v in _FLAT.items()}
    want.update({("Stay", h): v for h, v in _FLAT.items()})
    want[("Stay", 1)] = (51.0, 102.0)
    want[("Stay", 3)] = (101.0, 0.0)
    want[("Stay", 24)] = (21.0, 26.25)
    assert got == want


def test_category_changes_label_churn(churn):
    """Exchange sums Stay and Gone at each lookback but only Stay at
    latest; Fund exists only in the past and gets no row; Whale is new."""
    summary, cats = churn
    ch = jobs.category_changes(summary, cats)
    got = _changes_by_key(ch)
    want = {("Whale", h): v for h, v in _FLAT.items()}
    want.update({("Exchange", h): v for h, v in _FLAT.items()})
    want[("Exchange", 1)] = (44.0, 77.192982)
    want[("Exchange", 3)] = (94.0, 1342.857143)
    want[("Exchange", 24)] = (21.0, 26.25)
    assert got == want
    totals = {
        (r["grouped_label"], r["count"], float(r["total_balance"]),
         float(r["total_escrow"]), float(r["total_xrp"]))
        for r in ch.collect()
    }
    assert totals == {("Exchange", 2, 100.0, 1.0, 101.0),
                      ("Whale", 1, 8.0, 1.0, 9.0)}


def test_changes_output_schema(churn):
    """Names and types of the change tables over the summary_series schema:
    the Parquet tables written from them, and their readers, depend on
    these."""
    summary, cats = churn

    def schema(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert schema(jobs.balance_changes(summary)) == [
        ("grouped_label", "string"), ("hours", "int"),
        ("balance_change", "decimal(32,6)"), ("percentage_change", "double"),
        ("calculated_at", "timestamp"),
    ]
    assert schema(jobs.category_changes(summary, cats)) == [
        ("grouped_label", "string"), ("hours", "int"), ("count", "bigint"),
        ("total_balance", "decimal(38,6)"), ("total_escrow", "decimal(38,6)"),
        ("total_xrp", "decimal(38,6)"), ("balance_change", "decimal(38,6)"),
        ("percentage_change", "double"), ("calculated_at", "timestamp"),
    ]


def test_refresh_resolves_lookback_once(spark, rich, cats, monkeypatch):
    """One refresh resolves the lookback timestamps once and hands them to
    all four change tables; the alert leaves no cached data behind."""
    from xrpl_rich_list_py_crawler_spark.plans import pipeline

    calls = []
    real = jobs._lookback_targets

    def counted(summary):
        calls.append(1)
        return real(summary)

    monkeypatch.setattr(jobs, "_lookback_targets", counted)
    res = pipeline.refresh_analytics(spark, rich, cats)
    assert len(calls) == 1
    res.summary.unpersist()

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    pipeline.significant_changes_alert(spark, rich, 0.05, 100, 1767225600)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
