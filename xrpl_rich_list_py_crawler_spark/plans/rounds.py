"""crawl_round(): one frontier round as a single DataFrame job.

The Spark re-expression of the reference's hourly pipeline
(``loader.py`` merge→sort→rank→append fused with ``scraper.py`` parsing and
``validator.py`` politeness; SURVEY.md §3.1):

    frontier ──robots──▶ allowed ──window──▶ selected
           (broadcast dim)   (token bucket, ≤16/host)
    selected ──join pages──▶ fetched ──Arrow UDF──▶ text+links ──▶
        results (ranked, lineage-stamped)  +  metrics  +  next frontier
        (new links ──anti-join──▶ unseen, bloom + exact repair)
        — all committed atomically as one catalog round.

The seen set is checked once per URL, when it is discovered (step 8), as
the reference dedups on insert (``processed_accounts``, ``loader.py:140,155``;
``UNIQUE (address, snapshot_date)``, ``table.sql:13``). Every committed
frontier is already ``merged − seen_now`` and round 0's ledger is empty, so
a round's input frontier never holds a seen URL (``seen_dups`` reads 0).

Semantics (shared verbatim with plans/simulator.py, which re-implements
them in single-process pandas for crawl-order equivalence goldens):

* fetch order is a pure function of data: (depth asc, host_rank desc,
  discovery_ts asc, url_hash asc) — identical at any parallelism;
* robots-denied and fetch-missing URLs are marked seen (never retried —
  the reference's zero-out-on-failure policy, ``validator.py:158-174``);
* budget-deferred URLs stay in the frontier for the next round;
* link discovery: depth = min over parents + 1 is NOT used — each link row
  gets parent.depth+1 and duplicates collapse to the minimum (depth,
  discovery_ts) per url_hash;
* discovery_ts of a new link = the parent page's warc_ts (data-derived; no
  wall clock — determinism ban, SURVEY.md §7.4).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import (
    canonicalize_urls_split,
    extract_follow_links_col,
    extract_links_col,
    extract_text_col,
    host_col,
)
from ..operators.frontier import global_rank
from ..operators.politeness import apply_robots, assign_politeness_gated
from ..operators.seen import anti_join_seen, anti_join_seen_bloom
from ..sources.catalog import SnapshotCatalog

_log = logging.getLogger(__name__)

FRONTIER_COLS = [
    "url", "url_hash", "host", "depth", "host_rank", "discovery_ts", "round",
]


def index_pages(pages: DataFrame) -> DataFrame:
    """Key the corpus by canonical-url hash once per run.

    One Arrow-UDF pass + JVM hashing; at 100 TB persist the result as a
    bucketed table instead (:func:`bucketize_pages`) so every round's
    fetch join is shuffle-free on the pages side. Already-indexed input
    (has ``url_hash``) passes through untouched, so a bucketed table can
    be handed straight to :class:`CrawlRun`.
    """
    if "url_hash" in pages.columns:
        return pages
    # small-corpus spread (r06, guide §2.5): a corpus parquet below one
    # input split scans as a single partition, so the one-time keying
    # pass (Arrow canonicalization + hash) ran on one core. No-op at
    # real corpus sizes, where the scan has ≥ core-count splits.
    spark = pages.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n_in = pages.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - conversion quirks
        n_in = par
    if n_in < par:
        pages = pages.repartition(par)
    canon = canonicalize_urls_split(pages, "url", "canon_url")
    return canon.select(
        F.xxhash64("canon_url").alias("url_hash"),
        F.col("canon_url"),
        "warc_ts",
        "html",
    )


def bucketize_pages(
    spark: SparkSession,
    pages: DataFrame,
    table: str = "pages_idx_bucketed",
    buckets: int = 64,
    path: str | None = None,
) -> DataFrame:
    """One-time corpus preparation for the 10^10-page deployment: write
    the keyed corpus as a ``url_hash``-bucketed, bucket-sorted table and
    return it.

    Every subsequent fetch join reads the pages side WITHOUT an exchange
    (Spark aligns the frontier shuffle to the bucket spec), so per-round
    cost is one frontier-sized shuffle instead of re-shuffling the 100 TB
    corpus — the persistent-table alternative to :class:`CrawlRun`'s
    in-memory ``pages_idx`` cache, which stops fitting once the corpus
    exceeds cluster memory. Plan shape is pinned in
    tests/test_plan_quality.py.
    """
    w = (
        index_pages(pages)
        .write.bucketBy(buckets, "url_hash")
        .sortBy("url_hash")
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        # external table at an explicit location (bucket spec lives in the
        # session catalog either way — only catalog tables carry it)
        w = w.option("path", path)
    w.saveAsTable(table)
    return spark.table(table)


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Round-0 frontier state from the seed list (urls already canonical)."""
    return seeds.select(
        F.col("url"),
        F.xxhash64("url").alias("url_hash"),
        host_col(F.col("url")).alias("host"),
        F.col("depth").cast("int").alias("depth"),
        F.col("host_rank").cast("double").alias("host_rank"),
        F.col("discovery_ts"),
        F.lit(0).alias("round"),
    )


class CrawlRun:
    """A resumable multi-round crawl over a pages corpus.

    State (frontier) + appends (results, metrics, seen) live in a
    :class:`SnapshotCatalog`; ``resume()`` continues from the last committed
    round (T7 checkpoint/resume, ``validator.py:184-185`` atomic-swap
    generalized).
    """

    #: robots dims with more hosts than this are semi-join-sliced to the
    #: round's active hosts before broadcasting (apply_robots active_only):
    #: ~1M hosts ≈ 100s of MB serialized — the practical broadcast ceiling;
    #: a 10^8-host dim must never ship whole to every executor
    ROBOTS_BROADCAST_MAX_HOSTS = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        pages: DataFrame,
        robots: DataFrame,
        use_bloom: bool = True,
        job_id: str = "crawl",
        robots_active_only: bool | None = None,
        transport=None,
        trap_gate: bool = False,
        wildcard_robots: bool = False,
        respect_nofollow: bool = False,
    ):
        self.spark = spark
        self.catalog = catalog
        self.robots = robots
        self.use_bloom = use_bloom
        self.job_id = job_id
        # optional live-fetch transport (sources/http_fetch.py): when set,
        # step 3 fetches through host-partitioned mapInPandas instead of
        # the corpus equi join — same output schema either way
        self.transport = transport
        # opt-in frontier-ingest trap gate (operators/frontier.py:
        # trap_features): drops crawl-trap URLs at link discovery, BEFORE
        # they enter the frontier or consume politeness budget. Default
        # off — the closed fixture universe has no traps and the crawl
        # goldens pin the ungated order; an open-web deployment turns it
        # on (zero-shuffle codegen gate, SURVEY.md §2.9).
        self.trap_gate = trap_gate
        # opt-in full-REP robots matching (operators/politeness.py:
        # robots_wildcard_allowed): */$ patterns + Allow rules with
        # longest-match precedence. Default off — the literal-prefix fast
        # path is verdict-identical on metachar-free rule sets (the
        # fixture universe) and cheaper per URL.
        self.wildcard_robots = wildcard_robots
        # opt-in REP link/page directives (functions/udfs.py:
        # extract_follow_links_col): anchors with rel="nofollow" and
        # pages whose <meta name="robots"> carries nofollow contribute
        # no frontier links. Default off — the goldens pin the
        # directive-blind reference grammar (href-first anchors).
        self.respect_nofollow = respect_nofollow
        # decide the robots-join strategy ONCE per run (the dim is fixed).
        # Bounded probe, not count(): the decision only needs "more rows
        # than the ceiling?", and limit(ceiling+1).count() early-exits as
        # soon as that many rows are seen — a 10^8-host dim answers from
        # its first partitions instead of a full scan (r05)
        if robots_active_only is None:
            cap = self.ROBOTS_BROADCAST_MAX_HOSTS
            robots_active_only = (
                robots.select(F.lit(1).alias("_one")).limit(cap + 1).count()
                > cap
            )
        self.robots_active_only = robots_active_only
        # cache the keyed corpus: every round's fetch join and each commit
        # action reuses it. Pre-indexed input (a bucketize_pages table) is
        # NOT cached: its bucket layout already makes the fetch join
        # pages-side-shuffle-free, and at 100 TB it cannot fit in memory.
        self.pages_idx = index_pages(pages)
        if "url_hash" not in pages.columns:
            self.pages_idx = self.pages_idx.persist()
        # incremental bloom state: rebuilt from the ledger on (re)start,
        # OR-updated with each round's seen increment afterwards
        self._bloom = None
        self._bloom_round = -1

    # -- state accessors -----------------------------------------------------

    def bootstrap(self, seeds: DataFrame) -> None:
        """Commit round 0 = seed frontier, empty seen."""
        frontier = seeds_to_frontier(seeds)
        empty_seen = self.spark.createDataFrame([], "url_hash long, round int")
        self.catalog.commit_round(0, {"frontier": frontier, "seen": empty_seen})

    def _frontier(self, round_n: int) -> DataFrame:
        return self.catalog.read_state(self.spark, "frontier", round_n)

    def _seen(self, up_to: int) -> DataFrame | None:
        return self.catalog.read_appended(self.spark, "seen", up_to)

    def _bloom_for(self, up_to_round: int, seen: DataFrame | None):
        """Bloom shards covering rounds ≤ up_to_round — incremental when the
        in-memory state is current, full rebuild from the ledger otherwise
        (fresh process / resume / saturation)."""
        from ..operators.seen import build_bloom_shards

        if (
            self._bloom is None
            or self._bloom_round != up_to_round
            or self._bloom.saturated
        ):
            if seen is None:
                self._bloom = None
            else:
                self._bloom = build_bloom_shards(
                    seen, expected_keys=max(self._expected_keys(), 1)
                )
            self._bloom_round = up_to_round
        return self._bloom

    def _expected_keys(self) -> int:
        """Sizing hint: 4× current ledger (rebuilds stay rare as the crawl
        grows)."""
        return (self._bloom.n_keys * 4) if self._bloom else (1 << 16)

    # -- one round -----------------------------------------------------------

    def run_round(self, round_n: int) -> dict[str, DataFrame]:
        """Execute round ``round_n`` (≥1) and atomically commit
        results/metrics/seen-increment/next-frontier."""
        cached: list[DataFrame] = []
        try:
            return self._round(round_n, cached)
        finally:
            # also when the commit raises: a failed round must not leave
            # its frames pinned in executor memory for the retry
            for df in cached:
                df.unpersist()

    def _round(self, round_n: int, cached: list[DataFrame]) -> dict[str, DataFrame]:
        """The body of :meth:`run_round`; every frame it persists goes on
        ``cached``."""
        prev = round_n - 1
        frontier = self._frontier(prev)
        seen = self._seen(prev)

        # 1. no seen check here: step 8 of the round that committed this
        # frontier already removed every seen URL from it.

        # 2. robots gate (broadcast dim) + politeness token bucket (window).
        # ``gated`` feeds denied/selected/deferred/results/metrics — persist
        # once so the four table writes don't re-run the window.
        gated = assign_politeness_gated(
            apply_robots(
                frontier, self.robots,
                active_only=self.robots_active_only,
                wildcard=self.wildcard_robots,
            )
        ).persist()
        cached.append(gated)
        denied = gated.filter(F.col("robots_denied"))
        selected = gated.filter(~F.col("robots_denied") & F.col("selected"))
        deferred = gated.filter(~F.col("robots_denied") & ~F.col("selected"))

        # 3. "fetch" = equi join against the keyed corpus (left: missing =
        # 404), or the live host-partitioned mapInPandas fetcher when a
        # transport is injected (reference loader.py:28-54 deployment path)
        if self.transport is not None:
            from ..sources.http_fetch import http_fetch

            fetched = http_fetch(selected, self.transport)
        else:
            fetched = selected.join(
                self.pages_idx.withColumnRenamed("warc_ts", "_page_ts"),
                "url_hash",
                "left",
            ).withColumn("fetch_ok", F.col("html").isNotNull())

        # 4. extraction: text AND links fully JVM-side (regexp in
        # whole-stage codegen — the html blob never crosses to Python at
        # all; the byte-identical-text invariant survives because the
        # ASCII-delimiter/UTF-8-self-synchronization argument makes the
        # JVM extraction byte-equal to the Python twin for ANY bytes,
        # pinned on fixture + adversarial corpora in tests/test_parsers.py)
        parsed = (
            fetched.withColumn(
                "text", F.when(F.col("fetch_ok"), extract_text_col(F.col("html")))
            )
            .withColumn(
                "links",
                F.coalesce(
                    F.when(
                        F.col("fetch_ok"),
                        extract_follow_links_col(F.col("html"))
                        if self.respect_nofollow
                        else extract_links_col(F.col("html")),
                    ),
                    F.array().cast("array<string>"),
                ),
            )
            .withColumn("n_links", F.size("links").cast("int"))
            # html dies here: the blob must not ride the cache or any later
            # shuffle (at 100 TB the binary column is ~99% of the bytes)
            .drop("html", "canon_url")
        )
        parsed = parsed.persist()
        cached.append(parsed)

        # 5. ranked results (two-phase distributed rank, no global window)
        results = global_rank(
            parsed.select(
                "url", "url_hash", "host", "depth", "host_rank",
                "discovery_ts", "fetch_delay_s", "text", "n_links", "fetch_ok",
            ),
            rank_col="rank",
            cache_registry=cached,
        ).select(
            F.lit(round_n).alias("round"),
            "rank", "url", "url_hash", "host", "depth", "host_rank",
            "discovery_ts", "fetch_delay_s", "text", "n_links", "fetch_ok",
            F.spark_partition_id().alias("src_partition"),
            F.lit(self.job_id).alias("job_id"),
        )

        # 6. seen increment: attempted fetches + robots-denied. Persisted:
        # the seen table write, the increment bloom build and step 8's
        # anti-joins would otherwise each replay the distinct shuffle (r06).
        new_seen = (
            parsed.select("url_hash")
            .unionByName(denied.select("url_hash"))
            .distinct()
            .select("url_hash", F.lit(round_n).alias("round"))
        ).persist()
        cached.append(new_seen)

        # 7. link discovery → candidate frontier rows. Canonicalization
        # via the split-union JVM fast path: the already-canonical link
        # majority stays in codegen; only noisy urls cross to Arrow.
        raw_links = parsed.filter(F.col("fetch_ok")).select(
            F.col("depth").alias("parent_depth"),
            F.col("_page_ts").alias("parent_ts"),
            F.explode("links").alias("raw_url"),
        )
        links = (
            canonicalize_urls_split(raw_links, "raw_url", "url")
            .select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                host_col(F.col("url")).alias("host"),
                (F.col("parent_depth") + 1).cast("int").alias("depth"),
                F.col("parent_ts").alias("discovery_ts"),
            )
            .join(
                F.broadcast(self.robots.select("host", "host_rank")),
                "host",
                "left",
            )
            .withColumn("host_rank", F.coalesce("host_rank", F.lit(0.0)))
        )
        if self.trap_gate:
            from ..operators.frontier import filter_traps

            links = filter_traps(links)

        # 8. next frontier = deferred ∪ new links, collapsed per url_hash to
        #    min (depth, discovery_ts), minus everything now seen — the
        #    round's only seen check. It is bloom-first with exact repair:
        #    at 10^10 the exact ledger anti-join only ever touches the
        #    maybe-seen slice.
        candidates = deferred.select(*[c for c in FRONTIER_COLS if c != "round"]).unionByName(
            links.select(*[c for c in FRONTIER_COLS if c != "round"])
        )
        # merged is persisted: both the next-frontier branch and the
        # metrics union's merged_candidates tag consume it, and its
        # upstream (link explode + Arrow canonicalization) is the single
        # most expensive recompute of the round (r06 profile: the metrics
        # write replayed it in full, gating every commit at ~5.5s).
        merged = candidates.groupBy("url_hash").agg(
            F.min("depth").alias("depth"),
            F.min("discovery_ts").alias("discovery_ts"),
            F.first("url").alias("url"),
            F.first("host").alias("host"),
            F.first("host_rank").alias("host_rank"),
        ).persist()
        cached.append(merged)
        seen_now = (seen.select("url_hash") if seen is not None else
                    self.spark.createDataFrame([], "url_hash long")).unionByName(
            new_seen.select("url_hash")
        )
        bloom = self._bloom_for(prev, seen) if self.use_bloom else None
        if bloom is not None:
            # prefilter with the PREVIOUS rounds' bloom (this round's
            # increment is NOT in it), then repair exactly: rows the old
            # bloom cannot clear get the full seen_now anti-join, and rows
            # it does clear — definitely unseen in prior rounds — still get
            # an exact anti-join against new_seen (the per-round increment,
            # politeness-budget-bounded, so AQE broadcasts it). Result set
            # is identical to prefiltering with the OR-merged bloom (both
            # compute merged − seen_now), so the increment shards are
            # built after the commit instead of in front of it.
            unseen_merged = anti_join_seen(
                anti_join_seen_bloom(self.spark, merged, seen_now, bloom),
                new_seen,
            )
        else:
            unseen_merged = anti_join_seen(merged, seen_now)
        next_frontier = unseen_merged.select(
            "url", "url_hash", "host", "depth", "host_rank", "discovery_ts",
            F.lit(round_n).alias("round"),
        ).persist()
        cached.append(next_frontier)

        # 9. per-host metrics (A7: lineage-stamped counters) — ONE shuffle:
        # tag every event with its metric name, conditional-sum per host
        # (replaces an 8-way full-outer join fan).
        def _tag(df: DataFrame, name: str, cnt=None) -> DataFrame:
            c = cnt if cnt is not None else F.lit(1).cast("long")
            return df.select(F.col("host"), F.lit(name).alias("_m"), c.alias("_c"))

        events = (
            _tag(frontier, "candidates")
            .unionByName(_tag(gated, "unseen"))
            .unionByName(_tag(denied, "robots_denied"))
            .unionByName(_tag(deferred, "budget_deferred"))
            .unionByName(_tag(parsed.filter(F.col("fetch_ok")), "fetched"))
            .unionByName(_tag(parsed.filter(~F.col("fetch_ok")), "fetch_missing"))
            .unionByName(_tag(parsed, "links_extracted", F.col("n_links").cast("long")))
            .unionByName(_tag(next_frontier, "new_frontier"))
            # merged (pre-seen-filter candidate set) minus new_frontier =
            # discovered urls dropped because already crawled — the
            # reference's UNIQUE-conflict dup count, measured where this
            # engine actually dedups (the ingest anti-join, step 8)
            .unionByName(_tag(merged, "merged_candidates"))
        )

        def _m(name: str):
            return F.coalesce(
                F.sum(F.when(F.col("_m") == name, F.col("_c"))), F.lit(0)
            )

        metrics = events.groupBy("host").agg(
            _m("candidates").alias("candidates"),
            (_m("candidates") - _m("unseen")).alias("seen_dups"),
            _m("robots_denied").alias("robots_denied"),
            _m("budget_deferred").alias("budget_deferred"),
            _m("fetched").alias("fetched"),
            _m("fetch_missing").alias("fetch_missing"),
            _m("links_extracted").alias("links_extracted"),
            _m("new_frontier").alias("new_frontier"),
            (_m("merged_candidates") - _m("new_frontier"))
            .alias("links_seen_dropped"),
        ).select(
            F.lit(round_n).alias("round"), "host", "candidates", "seen_dups",
            "robots_denied", "budget_deferred", "fetched", "fetch_missing",
            "links_extracted", "new_frontier", "links_seen_dropped",
        )

        out = {
            "results": results,
            "metrics": metrics,
            "seen": new_seen,
            "frontier": next_frontier,
        }
        self.catalog.commit_round(round_n, out)
        if bloom is not None:
            # increment shards are built executor-side with the SAME
            # geometry, then OR-merged blob-wise: only n_shards bitsets
            # reach the driver — never row data (a round's increment is
            # per-host-budget × host-count, which at 10^10-frontier scale
            # is millions of longs; collecting it would OOM the driver).
            from ..operators.seen import build_bloom_shards

            try:
                inc_shards = build_bloom_shards(
                    new_seen,
                    n_shards=bloom.n_shards,
                    n_hashes=bloom.n_hashes,
                    n_bits_override=bloom.n_bits,
                )
            except Exception:
                # round_n is durably committed, so it must not fail: a
                # caller retrying it would commit it twice. Drop the
                # in-memory bloom; _bloom_for rebuilds it from the ledger.
                _log.warning("bloom increment for round %d failed; "
                             "rebuilding from the ledger next round",
                             round_n, exc_info=True)
                self._bloom = None
            else:
                # commit succeeded → advance the in-memory bloom to this round
                self._bloom = bloom.or_merge(inc_shards)
                self._bloom_round = round_n
        return out

    def run(
        self,
        n_rounds: int,
        seeds: DataFrame | None = None,
        compact_seen_every: int | None = None,
    ) -> int:
        """Run (or resume) up to ``n_rounds`` crawl rounds; returns the last
        committed round. Resume = start after ``catalog.last_round()``.

        ``compact_seen_every=k`` runs the catalog's small-files maintenance
        on the seen ledger every k rounds: the ledger is append-only and
        exempt from retention (it IS the dedup key), so over a long crawl
        its round count grows without bound and each round's bloom rebuild /
        exact repair would otherwise union thousands of tiny files.
        Compaction preserves the row multiset (tests pin crawl-result
        equivalence), so crawl behavior is unchanged.
        """
        last = self.catalog.last_round()
        if last is None:
            if seeds is None:
                raise ValueError("fresh run needs seeds")
            self.bootstrap(seeds)
            last = 0
        for r in range(last + 1, n_rounds + 1):
            # empty-frontier check from parquet footers (no Spark job)
            n_front = self.catalog.row_count("frontier", r - 1)
            if not n_front:
                break
            self.run_round(r)
            last = r
            if compact_seen_every and r % compact_seen_every == 0:
                self.catalog.compact_rounds(self.spark, "seen", up_to_round=r)
        return last


def revisit_seeds(
    history: DataFrame,
    now,
    min_interval_s: int = 3600,
    max_interval_s: int = 2_592_000,
) -> DataFrame:
    """Incremental-crawl bridge (late r05): fold a fetch ledger through
    :func:`..operators.frontier.recrawl_schedule` and return the DUE urls
    as a seeds-shaped frame — ``bootstrap()`` it on a fresh catalog and
    the next revisit cycle runs as an ordinary crawl.

    ``history`` is one or more cycles' ``results`` tables unioned
    (``catalog.read_appended(spark, "results")`` per cycle): per url the
    successful fetches become (ts, content-fingerprint) observations,
    the Cho/Garcia-Molina backoff sets each url's next-fetch time, and
    urls due at the injected ``now`` (F12 — never wall clock) come back
    with the metadata of their LATEST fetch (depth, host_rank). The
    reference never needs this because it re-crawls its whole closed
    universe every cycle (``validator.py`` re-validates every row); an
    open-web corpus cannot — freshness budget goes where content
    actually changes.

    Scale shape: both the schedule and the latest-row window shuffle on
    the SAME key (url), so the whole helper is one repartition of the
    ledger plus a key-local join — no global windows, no driver state.
    """
    from ..operators.asof import latest_per_key
    from ..operators.frontier import recrawl_schedule

    ok = history.filter(F.col("fetch_ok"))
    hist = ok.select(
        "url",
        F.col("discovery_ts").alias("fetch_ts"),
        F.xxhash64("text").alias("content_hash"),
        F.col("round").alias("rid"),
    )
    sched = recrawl_schedule(
        hist,
        key_col="url",
        ts_col="fetch_ts",
        content_col="content_hash",
        id_col="rid",
        min_interval_s=min_interval_s,
        max_interval_s=max_interval_s,
    )
    now_ts = F.lit(now).cast("timestamp")
    due = sched.filter(F.col("next_fetch_ts") <= now_ts).select("url")
    latest = latest_per_key(
        ok.select("url", "depth", "host_rank", "discovery_ts"),
        ["url"],
        "discovery_ts",
    )
    return due.join(latest, "url").select(
        "url",
        F.col("depth").cast("int").alias("depth"),
        F.col("host_rank").cast("double").alias("host_rank"),
        now_ts.alias("discovery_ts"),
    )
