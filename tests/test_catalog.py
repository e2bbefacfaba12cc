"""Snapshot catalog: atomic commits, snapshot isolation, resume, retention."""

import os
import shutil
import uuid

import pytest

from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog


def test_uncommitted_round_invisible(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    df = spark.createDataFrame([(1, 1)], "url_hash long, round int")
    cat.commit_round(1, {"seen": df})
    # simulate a torn write: data dir exists but manifest not updated
    torn = os.path.join(str(tmp_path), "seen", "r00002")
    df.write.mode("overwrite").parquet(torn)
    out = cat.read_appended(spark, "seen")
    assert out.count() == 1  # r2 invisible
    assert cat.last_round() == 1


def test_resume_equals_uninterrupted(spark, crawl_sf0001, tmp_path):
    """Kill after round 1, resume → identical final state (FIXTURES.md §7.5)."""
    pages = spark.read.parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    seeds = spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))

    cat_a = SnapshotCatalog(str(tmp_path / "a"))
    CrawlRun(spark, cat_a, pages, robots, use_bloom=False).run(2, seeds)

    cat_b = SnapshotCatalog(str(tmp_path / "b"))
    CrawlRun(spark, cat_b, pages, robots, use_bloom=False).run(1, seeds)
    # "crash"; a fresh CrawlRun resumes from the manifest
    CrawlRun(spark, cat_b, pages, robots, use_bloom=False).run(2)

    for table in ["results", "seen"]:
        a = {
            tuple(r)
            for r in cat_a.read_appended(spark, table)
            .select("url_hash" if table == "seen" else "url", "round")
            .collect()
        }
        b = {
            tuple(r)
            for r in cat_b.read_appended(spark, table)
            .select("url_hash" if table == "seen" else "url", "round")
            .collect()
        }
        assert a == b
    fa = {tuple(r) for r in cat_a.read_state(spark, "frontier").collect()}
    fb = {tuple(r) for r in cat_b.read_state(spark, "frontier").collect()}
    assert fa == fb


def test_failed_commit_releases_round_caches(spark, crawl_sf0001, tmp_path,
                                             monkeypatch):
    """A round whose commit raises still unpersists every frame it cached,
    so a retried round starts from the same executor memory."""
    pages = spark.read.parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    seeds = spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))
    cat = SnapshotCatalog(str(tmp_path))
    run = CrawlRun(spark, cat, pages, robots, use_bloom=False)
    run.run(1, seeds)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()

    def swap(m):
        raise OSError("injected manifest swap failure")

    monkeypatch.setattr(cat, "_swap_manifest", swap)
    with pytest.raises(OSError, match="injected"):
        run.run_round(2)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert cat.last_round() == 1


def test_fresh_run_without_seeds_raises(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    robots = spark.createDataFrame(
        [],
        "host string, disallow_prefixes array<string>, crawl_delay_s double, "
        "max_fetches_per_round int, host_rank double",
    )
    with pytest.raises(ValueError):
        CrawlRun(spark, cat, pages, robots).run(1)


def test_expire_rounds_retention(spark, tmp_path):
    """≅ cleanup_old_rich_list_data (function.sql:408-422): snapshot data
    expires, but the dedup-key ledger (seen) is NEVER truncated — the
    reference keeps UNIQUE(address, snapshot_date) while deleting rows, so
    expired URLs must not become re-fetchable."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 6):
        seen = spark.createDataFrame([(r, r)], "url_hash long, round int")
        res = spark.createDataFrame([(r,)], "round int")
        cat.commit_round(r, {"seen": seen, "results": res})
    dropped = cat.expire_rounds(keep_last=2)
    assert dropped == [1, 2, 3]
    # snapshot table expired physically + in the manifest
    assert cat.read_appended(spark, "results").count() == 2
    assert not os.path.exists(os.path.join(str(tmp_path), "results", "r00001"))
    # dedup ledger fully retained
    assert cat.read_appended(spark, "seen").count() == 5
    assert os.path.exists(os.path.join(str(tmp_path), "seen", "r00001"))


def test_compact_rounds_preserves_rows(spark, tmp_path):
    """Small-files maintenance (Iceberg rewrite_data_files analog): the
    seen ledger is retained forever, so compaction must merge increments
    without changing the visible row multiset, and land atomically under a
    new generation dirname."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 6):
        seen = spark.createDataFrame(
            [(r * 10 + i, r) for i in range(3)], "url_hash long, round int"
        )
        cat.commit_round(r, {"seen": seen})
    before = sorted(
        (r["url_hash"], r["round"])
        for r in cat.read_appended(spark, "seen").collect()
    )
    merged = cat.compact_rounds(spark, "seen")
    assert merged == [1, 2, 3, 4]
    after = sorted(
        (r["url_hash"], r["round"])
        for r in cat.read_appended(spark, "seen").collect()
    )
    assert after == before
    # physical layout: only the compacted generation remains
    assert sorted(os.listdir(os.path.join(str(tmp_path), "seen"))) == [
        "r00005_g1"
    ]
    assert cat.manifest()["tables"]["seen"]["rounds"] == [5]
    assert cat.row_count("seen", 5) == 15
    # appends continue after compaction; a second compaction bumps the gen
    cat.commit_round(6, {"seen": spark.createDataFrame(
        [(99, 6)], "url_hash long, round int")})
    assert cat.read_appended(spark, "seen").count() == 16
    assert cat.compact_rounds(spark, "seen") == [5]
    assert cat.manifest()["tables"]["seen"]["dirs"]["6"] == "r00006_g1"
    assert cat.read_appended(spark, "seen").count() == 16


def test_crawl_with_seen_compaction_equivalent(spark, crawl_sf0001, tmp_path):
    """A crawl that compacts its seen ledger mid-run must produce the
    identical results and seen set as one that never compacts."""
    pages = spark.read.parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    seeds = spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))

    def crawl(root, compact_every):
        cat = SnapshotCatalog(str(tmp_path / root))
        CrawlRun(spark, cat, pages, robots).run(
            3, seeds, compact_seen_every=compact_every
        )
        res = sorted(
            (r["round"], r["rank"], r["url"])
            for r in cat.read_appended(spark, "results").collect()
        )
        seen = sorted(
            r["url_hash"] for r in cat.read_appended(spark, "seen").collect()
        )
        return cat, res, seen

    cat_a, res_a, seen_a = crawl("plain", None)
    cat_b, res_b, seen_b = crawl("compacted", 1)
    assert res_a == res_b
    assert seen_a == seen_b
    # non-multiple cadence (every 2 over 3 rounds: compaction fires
    # mid-run at round 2, round 3 appends after it — the default-on
    # runner path, scripts/run_crawl.py --compact-seen-every)
    _, res_c, seen_c = crawl("compacted2", 2)
    assert res_a == res_c and seen_a == seen_c
    # the compacted catalog really did merge: one seen dir per ledger
    assert len(os.listdir(os.path.join(str(tmp_path), "compacted", "seen"))) \
        < len(os.listdir(os.path.join(str(tmp_path), "plain", "seen")))


def test_compact_rounds_retry_after_crash_window(spark, tmp_path):
    """If a prior compaction died after renaming the generation dir but
    before the manifest swap, the uncommitted dir must not wedge the retry
    (os.rename onto a non-empty dir raises)."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 4):
        cat.commit_round(r, {"seen": spark.createDataFrame(
            [(r, r)], "url_hash long, round int")})
    # simulate the crash leftovers: the dir a retry will want to create
    leftover = os.path.join(str(tmp_path), "seen", "r00003_g1")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "junk.parquet"), "w") as f:
        f.write("torn")
    assert cat.compact_rounds(spark, "seen") == [1, 2]
    rows = sorted(r["url_hash"] for r in cat.read_appended(spark, "seen").collect())
    assert rows == [1, 2, 3]


def test_read_appended_below_compaction_floor_raises(spark, tmp_path):
    """compact_rounds reassigns merged rows to the newest merged round, so
    an as-of read below the compaction floor would silently lose history —
    it must raise instead."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 5):
        cat.commit_round(r, {"seen": spark.createDataFrame(
            [(r, r)], "url_hash long, round int")})
    cat.compact_rounds(spark, "seen", up_to_round=3)
    # reads at/above the floor still work
    assert cat.read_appended(spark, "seen", up_to_round=3).count() == 3
    assert cat.read_appended(spark, "seen", up_to_round=4).count() == 4
    assert cat.read_appended(spark, "seen").count() == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compaction floor"):
        cat.read_appended(spark, "seen", up_to_round=2)


def test_commit_round_failed_write_leaves_catalog_unchanged(spark, tmp_path):
    """A commit whose second table write fails raises and publishes nothing:
    the manifest, last_round() and the readers still show only the earlier
    rounds, and a retry with good frames commits the round exactly once."""
    from pyspark.sql import functions as F

    cat = SnapshotCatalog(str(tmp_path))

    def frames(r):
        return {
            "results": spark.createDataFrame([(r,)], "round int"),
            "seen": spark.createDataFrame([(r, r)], "url_hash long, round int"),
        }

    cat.commit_round(1, frames(1))
    before = cat.manifest()
    bad = frames(2)
    bad["seen"] = bad["seen"].select(
        F.raise_error(F.lit("injected write failure")).cast("long")
        .alias("url_hash"),
        "round",
    )
    with pytest.raises(Exception, match="injected write failure"):
        cat.commit_round(2, bad)
    assert cat.manifest() == before
    assert cat.last_round() == 1
    for table in ("results", "seen"):
        rows = cat.read_appended(spark, table).collect()
        assert [r["round"] for r in rows] == [1]
        assert not os.path.exists(os.path.join(str(tmp_path), table, "r00002"))

    cat.commit_round(2, frames(2))
    m = cat.manifest()
    assert m["committed_rounds"] == [1, 2]
    assert {t: v["rounds"] for t, v in m["tables"].items()} == {
        "results": [1, 2], "seen": [1, 2],
    }
    rows = cat.read_appended(spark, "seen").collect()
    assert sorted(r["round"] for r in rows) == [1, 2]


# -- read/commit contract: visibility, retry, compaction, retention ----------


def _rows(df):
    return sorted(tuple(r) for r in df.collect()) if df is not None else []


def test_contract_commit_visibility_and_resume(spark, tmp_path):
    """Committed rounds are exactly the visible rounds; up_to filters;
    state reads resume from the last committed snapshot."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in (1, 2, 3):
        cat.commit_round(r, {
            "seen": spark.createDataFrame([(r * 10,)], "url_hash long"),
            "frontier": spark.createDataFrame([(r, "u")], "round int, url string"),
        })
    assert cat.last_round() == 3
    assert cat.read_appended(spark, "seen").count() == 3
    assert cat.read_appended(spark, "seen", up_to_round=2).count() == 2
    st = cat.read_state(spark, "frontier")
    assert _rows(st) == [(3, "u")]
    assert _rows(cat.read_state(spark, "frontier", 1)) == [(1, "u")]
    assert cat.read_appended(spark, "nonexistent") is None
    assert cat.row_count("seen", 2) == 1


def test_contract_recommit_replaces_never_doubles(spark, tmp_path):
    """Conflict/retry: re-committing a round (through a SECOND handle on
    the same root — the concurrent-committer analog) REPLACES that round's
    content; nothing doubles, later rounds unaffected."""
    cat = SnapshotCatalog(str(tmp_path))
    df_a = spark.createDataFrame([(1,), (2,)], "url_hash long")
    df_b = spark.createDataFrame([(7,), (8,), (9,)], "url_hash long")
    cat.commit_round(1, {"seen": df_a})
    cat.commit_round(2, {"seen": df_a})
    # retry round 1 with different content via a fresh handle (manifest
    # reload path)
    SnapshotCatalog(cat.root).commit_round(1, {"seen": df_b})
    got = cat.read_appended(spark, "seen", up_to_round=1)
    assert _rows(got) == [(7,), (8,), (9,)]
    assert cat.read_appended(spark, "seen").count() == 5  # 3 + round 2's 2
    assert cat.last_round() == 2


def test_contract_compact_preserves_reads(spark, tmp_path):
    """compact_rounds is invisible to the read surface the engine uses:
    identical row multiset, identical up-to-latest as-of reads, round
    bookkeeping still consistent — and compaction composes (second call
    after more commits)."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in (1, 2, 3):
        cat.commit_round(r, {"seen": spark.createDataFrame(
            [(r, i) for i in range(5)], "round_src int, i long")})
    before = _rows(cat.read_appended(spark, "seen"))
    cat.compact_rounds(spark, "seen")
    assert _rows(cat.read_appended(spark, "seen")) == before
    assert _rows(cat.read_appended(spark, "seen", up_to_round=3)) == before
    # keep committing + compacting: multiset still exact
    cat.commit_round(4, {"seen": spark.createDataFrame(
        [(4, i) for i in range(5)], "round_src int, i long")})
    cat.compact_rounds(spark, "seen")
    assert len(_rows(cat.read_appended(spark, "seen"))) == 20
    assert cat.last_round() == 4


def test_contract_expire_keeps_dedup_keys(spark, tmp_path):
    """Retention drops old rounds of DATA tables only: RETAIN_TABLES
    (seen/frontier — the dedup key and resume state) keep every round."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in (1, 2, 3, 4):
        cat.commit_round(r, {
            "metrics": spark.createDataFrame([(r,)], "n long"),
            "seen": spark.createDataFrame([(r,)], "url_hash long"),
        })
    dropped = cat.expire_rounds(keep_last=2)
    assert dropped == [1, 2]
    assert cat.read_appended(spark, "metrics").count() == 2
    assert cat.read_appended(spark, "seen").count() == 4  # retained
    # expiring again below the floor is a no-op
    assert cat.expire_rounds(keep_last=2) == []


# -- fault injection: every step of a publish leaves a whole snapshot -------


class _Injected(Exception):
    pass


def _inject(monkeypatch, cat, fault):
    """Arm one fault: ``rename<k>`` fails the rename after k renames,
    ``swap`` fails the manifest swap, ``cleanup`` fails the first
    directory delete after the swap."""
    from xrpl_rich_list_py_crawler_spark.sources import catalog

    if fault.startswith("rename"):
        k, real, done = int(fault[len("rename"):]), os.rename, []

        def rename(src, dst):
            if len(done) == k:
                raise _Injected(fault)
            done.append(dst)
            real(src, dst)

        monkeypatch.setattr(catalog.os, "rename", rename)
    elif fault == "swap":
        def swap(m):
            raise _Injected(fault)

        monkeypatch.setattr(cat, "_swap_manifest", swap)
    else:
        real_swap, real_rmtree, swapped = cat._swap_manifest, shutil.rmtree, []

        def swap(m):
            real_swap(m)
            swapped.append(True)

        def rmtree(path, *a, **kw):
            if swapped:
                raise _Injected(fault)
            real_rmtree(path, *a, **kw)

        monkeypatch.setattr(cat, "_swap_manifest", swap)
        monkeypatch.setattr(catalog.shutil, "rmtree", rmtree)


def _round_frames(spark, r, tag):
    return {
        "results": spark.createDataFrame([(r, tag)], "round int, tag string"),
        "seen": spark.createDataFrame(
            [(r * 100 + ord(tag), r)], "url_hash long, round int"),
        "frontier": spark.createDataFrame(
            [(f"u{r}{tag}", r)], "url string, round int"),
    }


def _expected(tags):
    """The reader view of a catalog whose round r was committed with
    ``_round_frames(spark, r, tags[r])``."""
    return {
        "last": max(tags),
        "results": sorted((r, t) for r, t in tags.items()),
        "seen": sorted((r * 100 + ord(t), r) for r, t in tags.items()),
        "frontier": {r: [(f"u{r}{t}", r)] for r, t in tags.items()},
    }


def _view(spark, cat):
    m = cat.manifest()
    return {
        "last": cat.last_round(),
        "results": _rows(cat.read_appended(spark, "results")),
        "seen": _rows(cat.read_appended(spark, "seen")),
        "frontier": {
            r: _rows(cat.read_state(spark, "frontier", r))
            for r in m["tables"]["frontier"]["rounds"]
        },
    }


_OPS = {
    # op: (committed before, op's round and tag)
    "fresh": ({1: "a"}, (2, "a")),
    "recommit": ({1: "a", 2: "a"}, (1, "b")),
}


@pytest.mark.parametrize("fault", ["rename0", "rename1", "rename2", "swap",
                                   "cleanup"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_commit_fault_matrix(spark, tmp_path, monkeypatch, op, fault):
    """A commit (fresh round or re-commit) that fails at any step shows
    wholly the old snapshot while the manifest is unchanged and wholly the
    new one once it is swapped — never a mix, never a missing path — and
    a retry gives the uninterrupted answer."""
    before, (r, tag) = _OPS[op]
    after = {**before, r: tag}
    cat = SnapshotCatalog(str(tmp_path))
    for rr, t in before.items():
        cat.commit_round(rr, _round_frames(spark, rr, t))
    old_manifest = cat.manifest()

    _inject(monkeypatch, cat, fault)
    try:
        cat.commit_round(r, _round_frames(spark, r, tag))
    except _Injected:
        pass
    monkeypatch.undo()
    swapped = cat.manifest() != old_manifest
    assert _view(spark, cat) == _expected(after if swapped else before)

    cat.commit_round(r, _round_frames(spark, r, tag))
    assert _view(spark, cat) == _expected(after)
    m = cat.manifest()
    assert m["committed_rounds"] == sorted(after)
    assert {t: v["rounds"] for t, v in m["tables"].items()} == {
        t: sorted(after) for t in ("results", "seen", "frontier")
    }
    for t in ("results", "seen", "frontier"):
        assert sorted(os.listdir(tmp_path / t)) == sorted(
            os.path.basename(cat._table_dir(t, r, m)) for r in after
        ), t


@pytest.mark.parametrize("fault", ["rename0", "swap", "cleanup"])
def test_compact_fault_matrix(spark, tmp_path, monkeypatch, fault):
    """A compaction that fails at any step leaves the rows readable and
    unchanged, under either the old or the compacted round list, and a
    retry ends in the compacted layout."""
    cat = SnapshotCatalog(str(tmp_path))
    rows = []
    for r in (1, 2, 3):
        df = spark.createDataFrame([(r, i) for i in range(2)],
                                   "url_hash long, round int")
        rows += [(r, i) for i in range(2)]
        cat.commit_round(r, {"seen": df})

    _inject(monkeypatch, cat, fault)
    try:
        cat.compact_rounds(spark, "seen")
    except _Injected:
        pass
    monkeypatch.undo()
    assert cat.manifest()["tables"]["seen"]["rounds"] in ([1, 2, 3], [3])
    assert _rows(cat.read_appended(spark, "seen")) == sorted(rows)

    cat.compact_rounds(spark, "seen")
    assert cat.manifest()["tables"]["seen"]["rounds"] == [3]
    assert cat.manifest()["tables"]["seen"]["compacted_through"] == 3
    assert _rows(cat.read_appended(spark, "seen")) == sorted(rows)


# -- read cost ---------------------------------------------------------------


def _spark_jobs(spark, fn):
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"catalog-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog read cost")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("n_rounds", [1, 5])
def test_read_appended_is_one_scan(spark, tmp_path, n_rounds):
    """read_appended scans every committed round at once: it costs at
    most one Spark job (the schema inference), whatever the round count."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, n_rounds + 1):
        cat.commit_round(r, {"seen": spark.createDataFrame(
            [(r, r)], "url_hash long, round int")})
    out = []
    assert _spark_jobs(spark, lambda: out.append(
        cat.read_appended(spark, "seen"))) <= 1
    assert _rows(out[0]) == [(r, r) for r in range(1, n_rounds + 1)]
