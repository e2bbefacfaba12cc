"""Declared StructTypes for every engine table.

The reference declares schemas three ways — dataclasses
(``loader.py:9-18``), CSV fieldnames (``loader.py:182-183``) and Postgres
DDL (``table.sql:1-17``). The engine keeps that schema-on-write discipline:
every table has one StructType here, every read/write passes it explicitly,
nothing is inferred.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Crawl-engine tables (BASELINE.json input_hint + north_rule)
# ---------------------------------------------------------------------------

#: Common-Crawl-style corpus — the "web" the engine crawls. Fetching a URL is
#: a lookup in this table, exactly how the reference "fetches" a fixed ranked
#: page (``scraper.py:33`` hard-coded URL, ``scraper.py:82``).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

#: URL frontier — generalizes the reference's rank-ordered worklist
#: (``loader.py:163,189``). ``url`` is always canonical; ``url_hash`` is
#: ``xxhash64(url)`` and is the engine-wide join/dedup key.
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("host_rank", DoubleType(), False),
        StructField("discovery_ts", TimestampType(), False),
        StructField("round", IntegerType(), False),
    ]
)

#: Exact seen-set ledger (truth). The bloom shards are a pre-filter; this
#: ledger is the authority — generalizes ``processed_accounts: Set[str]``
#: (``loader.py:140``) and UNIQUE(address, snapshot_date) (``table.sql:13``).
SEEN = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("round", IntegerType(), False),
    ]
)

#: Per-host robots/politeness dimension (broadcast) — generalizes the
#: well-known-accounts gate (``loader.py:120-136``) and the categories dim
#: (``table.sql:72-98``).
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType(), False), False),
        StructField("crawl_delay_s", DoubleType(), False),
        StructField("max_fetches_per_round", IntegerType(), False),
        StructField("host_rank", DoubleType(), False),
    ]
)

#: Crawl results (append-only, lineage-stamped) — generalizes the
#: ``xrpl_rich_list`` snapshot table (``table.sql:1-14``).
RESULTS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("rank", IntegerType(), False),
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("host_rank", DoubleType(), False),
        StructField("discovery_ts", TimestampType(), False),
        StructField("fetch_delay_s", DoubleType(), False),
        StructField("text", StringType(), True),
        StructField("n_links", IntegerType(), False),
        StructField("fetch_ok", BooleanType(), False),
        StructField("src_partition", IntegerType(), False),
        StructField("job_id", StringType(), False),
    ]
)

#: Per-host per-round crawl metrics — generalizes
#: ``xrpl_rich_list_summary`` + change tables (``table.sql:27-69``).
METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("host", StringType(), False),
        StructField("candidates", LongType(), False),
        StructField("seen_dups", LongType(), False),
        StructField("robots_denied", LongType(), False),
        StructField("budget_deferred", LongType(), False),
        StructField("fetched", LongType(), False),
        StructField("fetch_missing", LongType(), False),
        StructField("links_extracted", LongType(), False),
        StructField("new_frontier", LongType(), False),
        # discovered candidates dropped at frontier ingest because the
        # target was already crawled — the engine's analog of the
        # reference's UNIQUE-conflict dup count (table.sql:13): dedup
        # happens at INSERT time there, at the ingest anti-join here.
        # (``seen_dups`` above counts candidates already seen when the
        # round starts. It is 0 by construction: every committed frontier
        # is the ingest anti-join's output, so the round runs no seen
        # check of its own, and the column stays as the invariant's
        # sentinel.)
        StructField("links_seen_dropped", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Reference-shaped analytics tables (table.sql)
# ---------------------------------------------------------------------------

#: Snapshot fact table ≅ ``xrpl_rich_list`` (``table.sql:1-17``). DECIMAL
#: columns are carried as double here (the fixture generator controls
#: precision; jobs that need exactness cast to DecimalType(20,6)).
RICHLIST = StructType(
    [
        StructField("rank", IntegerType(), False),
        StructField("address", StringType(), False),
        StructField("label", StringType(), False),
        StructField("balance_xrp", DoubleType(), False),
        StructField("escrow_xrp", DoubleType(), False),
        StructField("percentage", DoubleType(), False),
        StructField("exists", BooleanType(), False),
        StructField("domain", StringType(), False),
        StructField("snapshot_date", TimestampType(), False),
    ]
)

#: Hourly aggregate ≅ ``xrpl_rich_list_summary`` (``table.sql:27-35``).
SUMMARY = StructType(
    [
        StructField("grouped_label", StringType(), False),
        StructField("count", LongType(), False),
        StructField("total_balance", DoubleType(), False),
        StructField("total_escrow", DoubleType(), False),
        StructField("total_xrp", DoubleType(), False),
        StructField("created_at", TimestampType(), False),
    ]
)

#: Change rows ≅ ``xrpl_rich_list_changes`` (``table.sql:42-49``):
#: one row per (grouped_label, hours ∈ {1,3,24,168,720}).
CHANGES = StructType(
    [
        StructField("grouped_label", StringType(), False),
        StructField("hours", IntegerType(), False),
        StructField("balance_change", DoubleType(), False),
        StructField("percentage_change", DoubleType(), False),
        StructField("calculated_at", TimestampType(), False),
    ]
)

#: Dimension ≅ ``xrpl_rich_list_categories`` (``table.sql:72-98``).
CATEGORIES = StructType(
    [
        StructField("grouped_label", StringType(), False),
        StructField("category", StringType(), False),
        StructField("country", StringType(), False),
    ]
)

#: The 10-value category CHECK enum (``table.sql:84-97``, repeated at
#: ``table.sql:134-147``).
CATEGORY_ENUM = [
    "Major Contributor",
    "Exchange",
    "Casino/Gambling",
    "Payment Service",
    "DeFi Protocol",
    "Trading Service",
    "NFT/Gaming",
    "Custody/Institution",
    "Individual",
    "Other",
]
