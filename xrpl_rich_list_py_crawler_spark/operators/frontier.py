"""Frontier priority ordering, skew-defeating repartition, scalable rank.

Generalizes the reference's sort-then-enumerate ranking
(``loader.py:163,189``: ``sorted(..., reverse=True)`` + ``enumerate(_, 1)``)
to 10^10-row frontiers: never a single-partition window, never a driver
collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def order_cols() -> list:
    """Global frontier priority (north_rule): (depth, host_rank desc,
    discovery_ts, url_hash) — url_hash makes the order total, so crawl order
    is identical at any parallelism (local[8] == local[32] invariant).

    Built lazily (not a module constant): Column construction needs an
    active SparkContext, and this module is also imported by Python workers
    deserializing operator closures.
    """
    return [
        F.col("depth").asc(),
        F.col("host_rank").desc(),
        F.col("discovery_ts").asc(),
        F.col("url_hash").asc(),
    ]


def salted_repartition(df: DataFrame, n_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Skew-defeating physical layout for per-host work.

    A Zipf-hot host (the 'Unknown'-label skew analog — the 29-branch
    grouping at ``function.sql:17-50`` exists because labels are heavily
    skewed) would pin one task if we partitioned by host alone. Salting by
    ``pmod(url_hash, salt_buckets)`` splits a hot host across up to
    ``salt_buckets`` tasks while keeping co-location *within* each salt
    bucket. Salt derives from data (url_hash), never from randomness —
    determinism ban, SURVEY.md §7.4.
    """
    return df.repartition(
        n_partitions, F.col("host"), F.pmod("url_hash", F.lit(salt_buckets))
    ).sortWithinPartitions(*order_cols())


def global_rank(
    df: DataFrame,
    rank_col: str = "rank",
    n_partitions: int | None = None,
    cache_registry: list | None = None,
    order_by: list | None = None,
) -> DataFrame:
    """Distributed global dense rank 1..N in the frontier ORDER.

    The naive ``row_number() OVER (ORDER BY …)`` collapses to ONE partition —
    unusable at 10^10 rows. Instead (the classic two-phase pattern):

      1. range-repartition by the order keys (sampled range boundaries keep
         partitions balanced), sort within partitions;
      2. count rows per partition (tiny aggregate), prefix-sum the counts on
         the driver side of a broadcast join;
      3. rank = partition offset + intra-partition row_number.

    Equivalent result, but the big data is touched by exactly one shuffle
    (the range partitioning) and the only global object is the P-row offset
    table. Equality with the single-window version is pinned in
    tests/test_frontier.py.
    """
    ob = order_by if order_by is not None else order_cols()
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *ob).sortWithinPartitions(*ob)
    # Materialize ONCE: ``spark_partition_id()`` is physical-plan-dependent
    # (AQE may coalesce differently per action), so the offset branch and the
    # rank branch must read the same materialized pids, not recompute them.
    with_pid = parted.withColumn("_pid", F.spark_partition_id()).persist()
    if cache_registry is not None:
        # caller unpersists after consuming the result (per-round hygiene)
        cache_registry.append(with_pid)
    counts = with_pid.groupBy("_pid").count()
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_offset", F.coalesce(F.sum("count").over(w), F.lit(0))
    ).select("_pid", "_offset")
    # offsets has ≤ n rows → broadcast; the window above runs on that tiny df.
    intra = Window.partitionBy("_pid").orderBy(*ob)
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_offset") + F.row_number().over(intra)).cast("int"))
        .drop("_pid", "_offset")
    )


def trap_features(
    df: DataFrame,
    url_col: str = "url",
    max_depth: int = 8,
    max_params: int = 6,
    max_len: int = 512,
) -> DataFrame:
    """Crawl-trap detection for frontier hygiene — the filter a web-scale
    crawler runs BEFORE a URL ever enters the frontier, so traps never
    consume fetch budget. The reference crawls a closed URL universe and
    needs none of this (loader.py's lists are curated); an open-web
    frontier dies without it: calendar pages, session-id explosions, and
    self-linking galleries generate unbounded URL spaces.

    Adds five feature columns plus the verdict (all pure whole-stage-
    codegen Column ops — zero shuffle, runs inside the frontier scan):

    * ``path_depth``   — non-empty ``/``-segments in the path
    * ``n_repeat``     — segments minus distinct segments (>=2 means some
                         segment repeats 3x, or two segments repeat —
                         the /gallery/gallery/gallery/ recursion trap)
    * ``n_params``     — non-empty ``&``-split query parameters
                         (session-id / faceted-search explosion)
    * ``has_calendar`` — ``/(19|20)\\d\\d/\\d{1,2}(/|$)`` in the path (the
                         infinite-archive trap; fires the verdict only
                         when the page is also deep, depth > 4)
    * ``url_len``      — total URL length

    ``is_trap`` = depth > max_depth OR n_repeat >= 2 OR
    n_params > max_params OR (has_calendar AND depth > 4) OR
    url_len > max_len. Thresholds follow common crawler practice
    (e.g. heritrix TooManyPathSegmentsDecideRule defaults).

    Every expression has an exact DuckDB twin (split_part/string_split/
    list_distinct), so the operator is fully value-hash oracle-checked.
    """
    url = F.col(url_col)
    pq = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "")
    path = F.split_part(pq, F.lit("?"), F.lit(1))
    raw_q = F.split_part(pq, F.lit("?"), F.lit(2))
    segs = F.filter(F.split(path, "/"), lambda x: x != "")
    depth = F.size(segs)
    n_repeat = depth - F.size(F.array_distinct(segs))
    n_params = F.when(raw_q == "", F.lit(0)).otherwise(
        F.size(F.filter(F.split(raw_q, "&"), lambda x: x != ""))
    )
    has_cal = path.rlike(r"/(19|20)[0-9][0-9]/[0-9]{1,2}(/|$)")
    out = (
        df.withColumn("path_depth", depth)
        .withColumn("n_repeat", n_repeat)
        .withColumn("n_params", n_params)
        .withColumn("has_calendar", has_cal)
        .withColumn("url_len", F.length(url))
    )
    return out.withColumn(
        "is_trap",
        (F.col("path_depth") > max_depth)
        | (F.col("n_repeat") >= 2)
        | (F.col("n_params") > max_params)
        | (F.col("has_calendar") & (F.col("path_depth") > 4))
        | (F.col("url_len") > max_len),
    )


def filter_traps(df: DataFrame, url_col: str = "url", **kw) -> DataFrame:
    """Frontier-ingest gate: drop trap URLs, keep the input schema."""
    flagged = trap_features(df, url_col=url_col, **kw)
    return flagged.filter(~F.col("is_trap")).select(*df.columns)


def recrawl_schedule(
    history: DataFrame,
    key_col: str = "url_hash",
    ts_col: str = "fetch_ts",
    content_col: str = "content_hash",
    id_col: str | None = None,
    min_interval_s: int = 3600,
    max_interval_s: int = 2_592_000,
) -> DataFrame:
    """Adaptive revisit scheduling for an INCREMENTAL crawl — the
    freshness policy (Cho & Garcia-Molina-style exponential backoff) the
    reference sidesteps by re-crawling its whole closed universe every
    run (validator.py re-validates all rows each cycle). At web scale a
    crawler must instead decide WHEN each known URL is worth re-fetching.

    Per key, over its fetch history (timestamp + content fingerprint):

    * ``changed_i``        — fingerprint differs from the previous fetch
                             (the first fetch counts as changed)
    * ``trailing_unchanged`` — fetches since the last observed change
    * ``interval_s``       — ``min(max_interval_s, min_interval_s <<
                             min(trailing, 20))``: each consecutive
                             unchanged observation doubles the revisit
                             interval, any change resets it to the
                             floor; integer-exact in both engines (bit
                             shift, no float pow)
    * ``next_fetch_ts``    — last fetch + interval

    100 TB shape: one shuffle keyed by ``key_col``; the lag/row_number
    windows and the final aggregate are all partitioned by the same key
    (never a global window), so the whole operator is a single
    hash-partitioned pass over the fetch ledger. Output: one row per
    key — (key, last_fetch_ts, n_fetches, n_changes,
    trailing_unchanged, interval_s, next_fetch_ts).
    """
    order = [ts_col] + ([id_col] if id_col else [])
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order])
    prev = F.lag(F.col(content_col)).over(w)
    flagged = history.select(key_col, *order, content_col).withColumn(
        "_changed", prev.isNull() | (F.col(content_col) != prev)
    ).withColumn("_rn", F.row_number().over(w))
    agg = flagged.groupBy(key_col).agg(
        F.max(ts_col).alias("last_fetch_ts"),
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(F.col("_changed").cast("int")).alias("n_changes"),
        F.max(F.when(F.col("_changed"), F.col("_rn"))).alias("_lcrn"),
    )
    staged = agg.withColumn(
        "trailing_unchanged",
        (F.col("n_fetches") - F.col("_lcrn")).cast("int"),
    ).withColumn(
        "interval_s",
        F.least(
            F.lit(int(max_interval_s)).cast("bigint"),
            F.lit(int(min_interval_s)).cast("bigint")
            * F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " least(trailing_unchanged, 20))"
            ),
        ),
    )
    return staged.select(
        key_col,
        "last_fetch_ts",
        "n_fetches",
        "n_changes",
        "trailing_unchanged",
        "interval_s",
        F.timestamp_add(
            "SECOND", F.col("interval_s"), F.col("last_fetch_ts")
        ).alias("next_fetch_ts"),
    )


def snapshot_diff(
    prev: DataFrame,
    cur: DataFrame,
    key_col: str = "url",
    digest_col: str = "content_hash",
) -> DataFrame:
    """Per-URL delta between two crawl snapshots: ``added`` (in cur
    only), ``removed`` (in prev only), ``changed`` (both, digests
    differ), ``unchanged``.

    The set-level complement of :func:`recrawl_schedule`: that operator
    decides when to re-fetch a KNOWN url from its own history; this one
    reports what an actual re-crawl found — the delta feed an
    incremental index/downstream pipeline consumes instead of the full
    snapshot (the reference re-publishes its whole table every cycle,
    updater.py; a 100 TB corpus republishes only the diff).

    Each side must carry one row per key (crawl results do — rank is
    unique per round; pre-aggregate with latest_per_key otherwise).
    Shape: one full-outer sort-merge/hash join co-partitioned on the
    key — both sides shuffle ONCE on the join key and the verdict is a
    per-row codegen CASE; no windows, no skew beyond the key itself.

    Output: (key_col, prev_digest, cur_digest, change).
    """
    p = prev.select(
        F.col(key_col).alias("_k"), F.col(digest_col).alias("prev_digest")
    )
    c = cur.select(
        F.col(key_col).alias("_k"), F.col(digest_col).alias("cur_digest")
    )
    change = (
        F.when(F.col("prev_digest").isNull(), F.lit("added"))
        .when(F.col("cur_digest").isNull(), F.lit("removed"))
        .when(F.col("prev_digest") != F.col("cur_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return p.join(c, "_k", "full_outer").select(
        F.col("_k").alias(key_col),
        "prev_digest",
        "cur_digest",
        change.alias("change"),
    )


def url_path_templates(
    df: DataFrame,
    url_col: str = "url",
    min_urls: int = 10,
) -> DataFrame:
    """URL path-template mining: collapse every URL to
    ``host + templated path`` (hex runs ≥16 → ``{hex}``, then digit
    runs → ``{n}``) and roll up per template — the aggregate view of
    URL-space explosion that :func:`trap_features`' per-URL heuristics
    can't see. A template with 10^6 instances under one host is a
    faceted search / calendar / session-id space even when each
    individual URL looks innocent; the crawl move is to budget-cap the
    TEMPLATE (the frontier analog of :func:`..curation.cap_per_key`),
    and the curation move is to sample within it.

    All whole-stage-codegen Column ops (same path extraction as
    trap_features, two chained regexp_replace passes — hex before
    digits so ids don't half-collapse) + ONE groupBy on
    (host, template). Template skew concentrates VALUES on one key and
    map-side partial agg absorbs it, exactly like template_fingerprint.

    Output: (host, template, n_urls, sample_url,
    is_explosive = n_urls >= min_urls).
    """
    url = F.col(url_col)
    host = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1),
        r":\d+$",
        "",
    )
    pq = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "")
    path = F.split_part(pq, F.lit("?"), F.lit(1))
    tmpl = F.regexp_replace(
        F.regexp_replace(path, r"[0-9a-fA-F]{16,}", "{hex}"),
        r"[0-9]+",
        "{n}",
    )
    per_url = df.select(
        host.alias("host"), tmpl.alias("template"), url.alias("_u")
    )
    return (
        per_url.groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("_u").alias("sample_url"),
        )
        .withColumn("is_explosive", F.col("n_urls") >= int(min_urls))
    )


def host_quality_rank(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_tokens: int = 10,
    punct_pct_max: int = 30,
    scale: int = 10**6,
) -> DataFrame:
    """Quality-feedback host ranking — the loop a production crawler
    closes every round: what the CURATION side learned about a host's
    pages (how many survive the quality gates) feeds back into the
    FRONTIER side's ``host_rank`` for the next round, so fetch budget
    drains away from hosts that produce garbage. The reference re-ranks
    its closed account list per round (validator.py re-rank); this is
    that idea generalized to an open host space.

    Per host: ``n_pages``, ``n_keep`` (token count ≥ ``min_tokens`` AND
    punctuation ≤ ``punct_pct_max``% — the curate_corpus text gates,
    compared by INTEGER cross-multiplication ``punct·100 ≤ len·pct`` so
    no float ever enters the verdict), ``quality_ppm = n_keep·scale div
    n_pages`` (integral), and the dense ``rank`` from the engine's
    two-phase :func:`global_rank` on (quality_ppm desc, host) — ready
    to join onto seeds as the next round's host_rank input.

    Scale shape: per-row codegen gates + ONE groupBy(host) with
    map-side combine + the two-phase rank (range exchange on the
    host-level frame, which is corpus-hosts-sized, not pages-sized).
    """
    from ..functions.udfs import host_col
    from .textstats import ALNUM_WS, token_count_col

    t = F.col(text_col)
    punct = F.length(F.regexp_replace(t, ALNUM_WS, ""))
    keep = (token_count_col(t) >= int(min_tokens)) & (
        punct * 100 <= F.length(t) * int(punct_pct_max)
    )
    per_host = (
        pages.select(host_col(F.col(url_col)).alias("host"),
                     keep.cast("long").alias("_k"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("_k").alias("n_keep"),
        )
        .withColumn(
            "quality_ppm",
            F.expr(f"(n_keep * {int(scale)}) div n_pages").cast("long"),
        )
    )
    ranked = global_rank(
        per_host,
        rank_col="rank",
        order_by=[F.col("quality_ppm").desc(), F.col("host").asc()],
    )
    return ranked.select(
        "host", "n_pages", "n_keep", "quality_ppm",
        F.col("rank").cast("bigint").alias("rank"),
    )
