"""Stage-ordered orchestration (T9) — the reference's job chains.

``uploader.py:333-396`` runs: upload → summary → balance/available changes →
category/country changes → hourly statistics → cleanup → analyze, each step
raising on failure; ``updater.py:225-267`` re-runs the analytics chain
without re-ingest. These are the same chains as driver functions over the
snapshot catalog: a failed step aborts the refresh (the already-committed
snapshot stays current — the reference's stale-results-over-failure policy,
``uploader.py:134-138``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..schemas import CATEGORY_ENUM
from . import jobs


@dataclass
class RefreshResult:
    """Outputs of one analytics refresh (≅ one updater.py invocation)."""

    summary: DataFrame
    balance_changes: DataFrame
    available_changes: DataFrame
    category_changes: DataFrame
    country_changes: DataFrame
    category_statistics: DataFrame
    country_statistics: DataFrame
    available_statistics: DataFrame
    table_stats: DataFrame | None = None
    steps_run: list[str] = field(default_factory=list)


def refresh_analytics(
    spark: SparkSession,
    richlist: DataFrame,
    categories: DataFrame,
    now=None,
) -> RefreshResult:
    """The updater chain (``updater.py:225-267``), strictly ordered.

    ``now`` defaults to the latest snapshot timestamp (F12 determinism — the
    reference uses wall clock; we derive time from data so reruns and
    oracles are exact).
    """
    steps: list[str] = []

    def step(name: str, fn):
        out = fn()
        steps.append(name)
        return out

    n_bad = step(
        "validate_categories",
        lambda: jobs.validate_category_enum(categories, CATEGORY_ENUM),
    )
    if n_bad:
        raise ValueError(f"{n_bad} categories outside the CHECK enum "
                         f"(table.sql:84-97)")
    # persisted: all eight downstream jobs (and the final ANALYZE) derive
    # from this one series — without a barrier each materialization would
    # recompute the label-canonicalized aggregation from the raw rows
    summary = step("summary", lambda: jobs.summary_series(richlist).persist())
    # the lookback timestamps are global to the summary: resolve them once
    # for all four change tables (each would otherwise collect them again)
    lookback = jobs._lookback_targets(summary)
    if now is None:
        now = lookback[0]
    res = RefreshResult(
        summary=summary,
        balance_changes=step(
            "balance_changes",
            lambda: jobs.balance_changes(summary, lookback)),
        available_changes=step(
            "available_changes",
            lambda: jobs.available_changes(summary, lookback)),
        category_changes=step(
            "category_changes",
            lambda: jobs.category_changes(summary, categories, lookback)),
        country_changes=step(
            "country_changes",
            lambda: jobs.country_changes(summary, categories, lookback)),
        category_statistics=step(
            "category_statistics",
            lambda: jobs.category_statistics(summary, categories, now)),
        country_statistics=step(
            "country_statistics",
            lambda: jobs.country_statistics(summary, categories, now)),
        available_statistics=step(
            "available_statistics",
            lambda: jobs.available_statistics(summary, now)),
        steps_run=steps,
    )
    # ANALYZE runs LAST, exactly as uploader.py:303-326 invokes
    # analyze_rich_list_tables after cleanup (function.sql:1064-1082):
    # planner stats refresh over every table the chain just rewrote.
    res.table_stats = step(
        "analyze_tables",
        lambda: jobs.analyze_tables(
            spark,
            {
                "summary": res.summary,
                "balance_changes": res.balance_changes,
                "available_changes": res.available_changes,
                "category_changes": res.category_changes,
                "country_changes": res.country_changes,
                "category_statistics": res.category_statistics,
                "country_statistics": res.country_statistics,
                "available_statistics": res.available_statistics,
            },
        ),
    )
    return res


def significant_changes_alert(
    spark: SparkSession,
    richlist: DataFrame,
    pct_threshold: float,
    amt_threshold: float,
    as_of_unix: int,
) -> str:
    """Entry point C (SURVEY.md §3.3): top-K alert, formatted.

    ≅ ``post-alert.py:107-114`` → ``get_significant_changes`` → tweet."""
    from ..functions.presentation import alert_text

    # persisted: the lookback resolution runs two jobs over it before the
    # changes read it a third time
    summary = jobs.summary_series(richlist).persist()
    try:
        top = jobs.get_significant_changes(
            jobs.balance_changes(summary), pct_threshold, amt_threshold)
        return alert_text(top, as_of_unix)
    finally:
        summary.unpersist()
