"""Frontier ordering: distributed two-phase rank ≡ single-window rank."""

from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from xrpl_rich_list_py_crawler_spark.operators.frontier import (
    global_rank,
    order_cols,
    salted_repartition,
)


def _frontier_df(spark, n=4000):
    rng = np.random.RandomState(11)
    epoch = datetime(2026, 1, 1)
    rows = [
        (
            f"https://h{int(g)}.example.com/p/{i}",
            int(rng.randint(-(2**62), 2**62)),
            f"h{int(g)}.example.com",
            int(rng.randint(0, 5)),
            float((g + 1) ** -1.3),
            epoch + timedelta(seconds=int(rng.randint(0, 10000))),
        )
        for i, g in enumerate(rng.zipf(1.5, size=n) % 50)
    ]
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, depth int, "
        "host_rank double, discovery_ts timestamp",
    )


def test_global_rank_equals_window_rank(spark):
    df = _frontier_df(spark)
    got = {
        r["url_hash"]: r["rank"]
        for r in global_rank(df, n_partitions=8).collect()
    }
    w = Window.orderBy(*order_cols())
    want = {
        r["url_hash"]: r["rank"]
        for r in df.withColumn("rank", F.row_number().over(w)).collect()
    }
    assert got == want


def test_global_rank_is_permutation(spark):
    df = _frontier_df(spark, n=1500)
    ranks = sorted(r["rank"] for r in global_rank(df).collect())
    assert ranks == list(range(1, 1501))


def test_global_rank_parallelism_invariant(spark):
    df = _frontier_df(spark)
    a = {r["url_hash"]: r["rank"] for r in global_rank(df, n_partitions=2).collect()}
    b = {r["url_hash"]: r["rank"] for r in global_rank(df, n_partitions=17).collect()}
    assert a == b


def test_salted_repartition_preserves_rows_and_splits_hot_host(spark):
    df = _frontier_df(spark)
    out = salted_repartition(df, 16, salt_buckets=8)
    assert out.count() == df.count()
    # the hottest host must span >1 partition (skew defeat)
    hot = (
        df.groupBy("host").count().orderBy(F.desc("count")).first()["host"]
    )
    nparts = (
        out.withColumn("pid", F.spark_partition_id())
        .filter(F.col("host") == hot)
        .select("pid")
        .distinct()
        .count()
    )
    assert nparts > 1


def test_trap_features_every_branch(spark):
    """One URL per verdict branch, hand-checked feature values."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        filter_traps,
        trap_features,
    )

    urls = [
        (0, "https://a.com/x/1"),                                # clean
        (1, "https://a.com/a/b/c/d/e/f/g/h/i"),                  # depth 9
        (2, "https://a.com/gal/gal/gal/p"),                      # repeats
        (3, "https://a.com/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7"),      # 7 params
        (4, "https://a.com/blog/2019/07/why/i/crawl"),           # calendar
        (5, "https://a.com/long/" + "z" * 600),                  # length
        (6, "https://a.com/2020/1"),                             # cal, shallow
        (7, "https://a.com/p?a=1&b=2"),                          # few params
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {r["doc_id"]: r for r in trap_features(df).collect()}
    assert not got[0]["is_trap"] and got[0]["path_depth"] == 2
    assert got[1]["is_trap"] and got[1]["path_depth"] == 9
    assert got[2]["is_trap"] and got[2]["n_repeat"] == 2
    assert got[3]["is_trap"] and got[3]["n_params"] == 7
    assert got[4]["is_trap"] and got[4]["has_calendar"]
    assert got[5]["is_trap"] and got[5]["url_len"] > 512
    # calendar alone (depth <= 4) and a small param count do NOT fire
    assert got[6]["has_calendar"] and not got[6]["is_trap"]
    assert not got[7]["is_trap"] and got[7]["n_params"] == 2
    kept = filter_traps(df)
    assert kept.columns == ["doc_id", "url"]
    assert {r["doc_id"] for r in kept.collect()} == {0, 6, 7}


def test_trap_features_no_shuffle(spark):
    """Frontier-ingest gate must stay inside the scan: no Exchange in the
    physical plan (pure codegen Column ops)."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        trap_features,
    )

    df = spark.createDataFrame(
        [(0, "https://a.com/x")], "doc_id long, url string"
    )
    plan = trap_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_trap_gate_blocks_discovery(spark, tmp_path):
    """CrawlRun(trap_gate=True) drops trap links at discovery — they
    never enter the frontier or get fetched; default (off) crawls them.
    Hand-built 3-page universe: seed links to one clean and one
    /gal/gal/gal/ recursion-trap URL."""
    from datetime import datetime

    from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
    from xrpl_rich_list_py_crawler_spark.sources.catalog import (
        SnapshotCatalog,
    )

    epoch = datetime(2026, 1, 1)
    seed_u = "https://a.example.com/start"
    clean = "https://a.example.com/ok/1"
    trap = "https://a.example.com/gal/gal/gal/x"
    page = (
        '<html><head><title>S</title></head><body><p>hi</p>'
        f'<a href="{trap}">t</a><a href="{clean}">c</a></body></html>'
    )
    leaf = "<html><head><title>L</title></head><body><p>x</p></body></html>"
    pages = spark.createDataFrame(
        [
            (seed_u, epoch, bytearray(page.encode())),
            (clean, epoch, bytearray(leaf.encode())),
            (trap, epoch, bytearray(leaf.encode())),
        ],
        "url string, warc_ts timestamp, html binary",
    )
    robots = spark.createDataFrame(
        [("a.example.com", [], 1.0, 16, 1.0)],
        "host string, disallow_prefixes array<string>, crawl_delay_s double,"
        " max_fetches_per_round int, host_rank double",
    )
    seeds = spark.createDataFrame(
        [(seed_u, 0, 1.0, epoch)],
        "url string, depth int, host_rank double, discovery_ts timestamp",
    )

    def crawled(gate):
        cat = SnapshotCatalog(str(tmp_path / f"gate_{gate}"))
        CrawlRun(spark, cat, pages, robots, trap_gate=gate).run(2, seeds)
        return {
            r["url"] for r in cat.read_appended(spark, "results").collect()
        }

    off, on = crawled(False), crawled(True)
    assert trap in off and clean in off
    assert trap not in on and clean in on
    assert off - on == {trap}


def test_recrawl_schedule_backoff_and_reset(spark):
    """Hand-built ledger: key 1 never changes after first fetch (backoff
    doubles per unchanged fetch); key 2 changes at the last fetch
    (interval resets to the floor); key 3 has one fetch (trailing 0 →
    floor interval); clamp engages at a long unchanged tail."""
    from datetime import datetime, timedelta

    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        recrawl_schedule,
    )

    t0 = datetime(2026, 1, 1)
    rows = []
    # key 1: fetches 0..3, content constant -> trailing 3
    rows += [(1, t0 + timedelta(hours=i), 7, i) for i in range(4)]
    # key 2: content changes on the final fetch -> trailing 0
    rows += [(2, t0 + timedelta(hours=i), 1 if i < 2 else 2, 10 + i)
             for i in range(3)]
    # key 3: single fetch
    rows += [(3, t0, 5, 20)]
    # key 4: 25 unchanged fetches -> shift clamps at 20, interval at max
    rows += [(4, t0 + timedelta(hours=i), 9, 30 + i) for i in range(25)]
    df = spark.createDataFrame(
        rows, "url_hash long, fetch_ts timestamp, content_hash long,"
        " event_id long"
    )
    out = {r["url_hash"]: r for r in recrawl_schedule(
        df, id_col="event_id").collect()}
    assert out[1]["trailing_unchanged"] == 3
    assert out[1]["interval_s"] == 3600 * 8
    assert out[1]["n_changes"] == 1
    assert out[2]["trailing_unchanged"] == 0
    assert out[2]["interval_s"] == 3600
    assert out[2]["n_changes"] == 2
    assert out[3]["trailing_unchanged"] == 0
    assert out[3]["interval_s"] == 3600
    assert out[4]["trailing_unchanged"] == 24
    assert out[4]["interval_s"] == 2_592_000  # clamped at max
    assert (out[1]["next_fetch_ts"] - out[1]["last_fetch_ts"]
            ).total_seconds() == 3600 * 8


def test_revisit_seeds_bridge(spark, tmp_path):
    """Two-cycle revisit ledger: unchanged urls back off (not due at
    +90 min), changed urls reset to the floor (due); the due frame is
    seeds-shaped and bootstraps a fresh crawl end-to-end."""
    from datetime import datetime, timedelta

    from xrpl_rich_list_py_crawler_spark.plans.rounds import (
        CrawlRun, revisit_seeds,
    )
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog
    from xrpl_rich_list_py_crawler_spark.sources.fixtures import (
        ensure_crawl_fixtures,
    )

    d = ensure_crawl_fixtures("sf0.001")
    pages, robots, seeds = (
        spark.read.parquet(f"{d}/{t}.parquet")
        for t in ("pages", "robots", "seeds")
    )
    cat = SnapshotCatalog(str(tmp_path / "cycle1"))
    CrawlRun(spark, cat, pages, robots).run(2, seeds)
    res = cat.read_appended(spark, "results")

    # cycle 2 ledger: every url re-fetched 2h later; urls with rank <= 3
    # changed content, the rest unchanged
    from pyspark.sql import functions as F
    cyc2 = res.withColumn(
        "discovery_ts",
        F.col("discovery_ts") + F.expr("INTERVAL 2 HOURS"),
    ).withColumn(
        "text",
        F.when(F.col("rank") <= 3, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    ).withColumn("round", F.col("round") + F.lit(100))
    history = res.unionByName(cyc2)

    last_ts = cyc2.agg(F.max("discovery_ts")).collect()[0][0]
    now = last_ts + timedelta(minutes=90)
    due = revisit_seeds(history, now)
    assert due.columns == ["url", "depth", "host_rank", "discovery_ts"]
    due_urls = {r.url for r in due.collect()}
    changed = {
        r.url for r in res.filter("rank <= 3 and fetch_ok").collect()
    }
    unchanged_ok = {
        r.url for r in res.filter("rank > 3 and fetch_ok").collect()
    }
    # changed -> floor interval (1h) -> due at +90min;
    # unchanged -> doubled (2h) -> not due
    assert changed <= due_urls
    assert not (unchanged_ok & due_urls)

    # the due frame bootstraps a fresh cycle as ordinary seeds
    cat3 = SnapshotCatalog(str(tmp_path / "cycle3"))
    last = CrawlRun(spark, cat3, pages, robots).run(1, due)
    assert last == 1
    assert cat3.read_appended(spark, "results").count() > 0


def test_snapshot_diff_all_four_verdicts(spark):
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        snapshot_diff,
    )

    prev = spark.createDataFrame(
        [("a", "h1"), ("b", "h2"), ("c", "h3")], "url string, d string"
    )
    cur = spark.createDataFrame(
        [("b", "h2"), ("c", "CHANGED"), ("e", "h5")], "url string, d string"
    )
    got = {
        r.url: (r.change, r.prev_digest, r.cur_digest)
        for r in snapshot_diff(prev, cur, "url", "d").collect()
    }
    assert got == {
        "a": ("removed", "h1", None),
        "b": ("unchanged", "h2", "h2"),
        "c": ("changed", "h3", "CHANGED"),
        "e": ("added", None, "h5"),
    }


def test_snapshot_diff_is_single_join_no_window(spark):
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        snapshot_diff,
    )

    prev = spark.createDataFrame([("a", "h1")], "url string, d string")
    plan = (
        snapshot_diff(prev, prev, "url", "d")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert plan.count("Join") <= 2  # one join node (+ AQE echo at most)


def test_url_path_templates_collapse_and_flag(spark):
    """Digit/hex runs collapse in the right ORDER (hex ids don't
    half-collapse into {n}), query strings are excluded, ports are
    stripped from the host, and the explosion flag counts instances."""
    from pyspark.sql import functions as F

    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        url_path_templates,
    )

    urls = [f"https://a.com/item/{i}" for i in range(12)]
    urls += [
        "https://a.com:8443/item/99?page=3",     # port + query stripped
        "https://a.com/session/deadbeefdeadbeef01",  # 18 hex chars
        "https://b.com/about",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url: string")
    out = {(r["host"], r["template"]): (r["n_urls"], r["is_explosive"])
           for r in url_path_templates(df, min_urls=10).collect()}
    assert out[("a.com", "/item/{n}")] == (13, True)
    assert out[("a.com", "/session/{hex}")] == (1, False)
    assert out[("b.com", "/about")] == (1, False)
    assert len(out) == 3


def test_host_quality_rank_feedback_order(spark):
    """Hosts whose pages fail the gates sink; counts are per-host; the
    verdict is integer-exact (a page at exactly the 30% punctuation
    boundary is kept, just above it is dropped)."""
    from xrpl_rich_list_py_crawler_spark.operators.frontier import (
        host_quality_rank,
    )

    good = "clean readable prose with many plain words " * 3
    docs = [
        ("https://good.com/1", good),
        ("https://good.com/2", good),
        ("https://bad.com/1", "!!! ??? *** ### $$$"),
        ("https://bad.com/2", "tiny"),
        ("https://mid.com/1", good),
        ("https://mid.com/2", "@@@@ %%%% ^^^^ &&&& ((((("),
    ]
    df = spark.createDataFrame(docs, "url: string, text: string")
    got = {r["host"]: (r["n_pages"], r["n_keep"], r["rank"])
           for r in host_quality_rank(df).collect()}
    assert got["good.com"][:2] == (2, 2)
    assert got["bad.com"][:2] == (2, 0)
    assert got["mid.com"][:2] == (2, 1)
    assert got["good.com"][2] < got["mid.com"][2] < got["bad.com"][2]
    # boundary exactness: punct*100 <= len*30 keeps the = case
    b = spark.createDataFrame(
        [("https://edge.com/x", "word " * 14 + "!" * 30)],
        "url: string, text: string",
    )
    row = host_quality_rank(b).collect()[0]
    # 14 words, len=100, punct=30 -> 30*100 <= 100*30 holds -> kept
    assert (row["n_pages"], row["n_keep"]) == (1, 1)
