"""Politeness: robots gate + token-bucket window assignment (T8/J3)."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from xrpl_rich_list_py_crawler_spark.functions.hashing import spark_xxhash64_str
from xrpl_rich_list_py_crawler_spark.operators.politeness import (
    apply_robots,
    assign_politeness_gated,
    parse_robots_txt,
)


def _cands(spark, n_per_host=20, hosts=("a.com", "b.com")):
    epoch = datetime(2026, 1, 1)
    rows = []
    for h in hosts:
        for i in range(n_per_host):
            url = f"https://{h}/p/{i}"
            rows.append(
                (
                    url,
                    spark_xxhash64_str(url),  # = the engine's xxhash64("url")
                    h,
                    i % 3,
                    0.5,
                    epoch + timedelta(seconds=i),
                )
            )
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, depth int, host_rank double, "
        "discovery_ts timestamp",
    )


def _robots(spark):
    return spark.createDataFrame(
        [
            ("a.com", ["/private"], 2.0, 5, 0.9),
            ("b.com", ["/"], 1.0, 16, 0.5),
        ],
        "host string, disallow_prefixes array<string>, crawl_delay_s double, "
        "max_fetches_per_round int, host_rank double",
    )


def test_robots_full_disallow_and_prefix(spark):
    cands = _cands(spark).union(
        spark.createDataFrame(
            [
                (
                    "https://a.com/private/x",
                    123,
                    "a.com",
                    0,
                    0.5,
                    datetime(2026, 1, 1),
                )
            ],
            _cands(spark).schema,
        )
    )
    out = apply_robots(cands, _robots(spark))
    denied = {r["url"] for r in out.filter("robots_denied").collect()}
    assert "https://a.com/private/x" in denied
    assert all(u.startswith("https://b.com/") for u in denied - {"https://a.com/private/x"})
    assert len(denied) == 21  # all 20 b.com + the /private one


def test_unknown_host_defaults(spark):
    cands = spark.createDataFrame(
        [("https://zz.org/x", 1, "zz.org", 0, 0.0, datetime(2026, 1, 1))],
        _cands(spark).schema,
    )
    r = apply_robots(cands, _robots(spark)).collect()[0]
    assert not r["robots_denied"]
    assert r["crawl_delay_s"] == 1.0
    assert r["max_fetches_per_round"] == 16


def test_token_bucket_budget_and_delay(spark):
    out = assign_politeness_gated(apply_robots(_cands(spark), _robots(spark)))
    a = out.filter("host = 'a.com'").orderBy("host_slot").collect()
    assert sum(r["selected"] for r in a) == 5  # budget
    # slots are 1..n, delay = (slot-1) * crawl_delay
    assert [r["host_slot"] for r in a] == list(range(1, len(a) + 1))
    assert all(r["fetch_delay_s"] == (r["host_slot"] - 1) * 2.0 for r in a)
    # priority: depth asc first
    sel = [r for r in a if r["selected"]]
    assert [r["depth"] for r in sel] == sorted(r["depth"] for r in sel)


def test_apply_robots_active_only_equivalent(spark, crawl_sf0001):
    """The active-host-slice broadcast (the 10^8-host scale variant) must
    be semantically identical to broadcasting the full dimension."""
    import os

    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        apply_robots,
    )
    from xrpl_rich_list_py_crawler_spark.plans.rounds import seeds_to_frontier

    seeds = seeds_to_frontier(
        spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))
    )
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    cols = ["url", "robots_denied", "crawl_delay_s", "max_fetches_per_round"]
    full = sorted(map(tuple, apply_robots(seeds, robots).select(*cols).collect()))
    active = sorted(
        map(
            tuple,
            apply_robots(seeds, robots, active_only=True)
            .select(*cols)
            .collect(),
        )
    )
    assert full == active


def test_crawl_run_auto_selects_active_only(spark, crawl_sf0001, tmp_path):
    """CrawlRun flips to the active-host robots slice automatically when
    the dim exceeds the broadcast ceiling, and a sliced run commits the
    identical round-1 results (urls + text) as the full-broadcast run."""
    import os

    from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

    pages = spark.read.parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    seeds = spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))

    # auto threshold: tiny dim stays full-broadcast ...
    cat_a = SnapshotCatalog(str(tmp_path / "a"))
    run_a = CrawlRun(spark, cat_a, pages, robots)
    assert run_a.robots_active_only is False
    # ... and a dim above a (test-lowered) ceiling flips to the slice
    orig = CrawlRun.ROBOTS_BROADCAST_MAX_HOSTS
    try:
        CrawlRun.ROBOTS_BROADCAST_MAX_HOSTS = 1
        cat_b = SnapshotCatalog(str(tmp_path / "b"))
        run_b = CrawlRun(spark, cat_b, pages, robots)
        assert run_b.robots_active_only is True
    finally:
        CrawlRun.ROBOTS_BROADCAST_MAX_HOSTS = orig

    run_a.run(1, seeds)
    run_b.run(1, seeds)
    rows = lambda c: sorted(
        (r["rank"], r["url"], r["text"])
        for r in c.read_appended(spark, "results").collect()
    )
    assert rows(cat_b) == rows(cat_a)


def test_parse_robots_txt_grammar_and_integration(spark):
    """r04 robots.txt cache builder: section selection (* only, first
    wins, per-bot ignored), disallow collection, crawl-delay, defaults
    for no-star/empty files; case-insensitive directives; the output dim
    feeds apply_robots unchanged; the parse plan is JVM-only."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        apply_robots,
        parse_robots_txt,
    )

    bodies = {
        "multi": ("User-agent: googlebot\nDisallow: /g\n\n"
                  "User-agent: *\nDisallow: /private\nDisallow: /tmp/\n"
                  "Crawl-delay: 2.5\n"),
        "lower": "user-agent: *\ndisallow: /a\ncrawl-delay: 3\n",
        "nostar": "User-agent: googlebot\nDisallow: /x\n",
        "empty": "",
        "bare": "User-agent: *\n",          # star section, no directives
        "two_star": ("User-agent: *\nDisallow: /first\n\n"
                     "User-agent: *\nDisallow: /second\n"),  # first wins
        "emptydis": "User-agent: *\nDisallow:\n",  # allow-all directive
    }
    raw = spark.createDataFrame(list(bodies.items()), "host string, robots_txt string")
    dim = parse_robots_txt(raw)
    got = {r["host"]: r for r in dim.collect()}
    assert got["multi"]["disallow_prefixes"] == ["/private", "/tmp/"]
    assert got["multi"]["crawl_delay_s"] == 2.5 and got["multi"]["has_rules"]
    assert got["lower"]["disallow_prefixes"] == ["/a"]
    assert got["lower"]["crawl_delay_s"] == 3.0
    assert not got["nostar"]["has_rules"] and got["nostar"]["disallow_prefixes"] == []
    assert not got["empty"]["has_rules"]
    assert got["empty"]["crawl_delay_s"] == 1.0  # injected default
    assert got["bare"]["has_rules"] and got["bare"]["disallow_prefixes"] == []
    assert got["two_star"]["disallow_prefixes"] == ["/first"]
    assert got["emptydis"]["disallow_prefixes"] == []
    # budget-from-delay coupling (r05): a supplied Crawl-delay derives the
    # budget as floor(16s round / delay) in [1,16]; no delay → flat 16
    assert got["multi"]["max_fetches_per_round"] == 6    # 16/2.5
    assert got["lower"]["max_fetches_per_round"] == 5    # 16/3
    for h in ("nostar", "empty", "bare", "two_star", "emptydis"):
        assert got[h]["max_fetches_per_round"] == 16
    # JVM-only plan
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # the dim drops straight into apply_robots
    import datetime as dt

    cand = spark.createDataFrame(
        [("https://multi/private/x", 1, "multi", 0, 0.0, dt.datetime(2026, 1, 1)),
         ("https://multi/ok", 2, "multi", 0, 0.0, dt.datetime(2026, 1, 1)),
         ("https://unknown/ok", 3, "unknown", 0, 0.0, dt.datetime(2026, 1, 1))],
        "url string, url_hash long, host string, depth int, "
        "host_rank double, discovery_ts timestamp",
    )
    gated = {r["url"]: r for r in apply_robots(cand, dim).collect()}
    assert gated["https://multi/private/x"]["robots_denied"]
    assert not gated["https://multi/ok"]["robots_denied"]
    assert not gated["https://unknown/ok"]["robots_denied"]  # absent host: allow
    assert gated["https://unknown/ok"]["crawl_delay_s"] == 1.0


def test_sitemap_parse_and_seed_integration(spark):
    """r04 sitemap ingestion: url/lastmod extraction (datetime, bare
    date, zone suffix, whitespace, missing/empty loc), index-file child
    extraction, and the parsed output shaping into seeds_to_frontier's
    input schema; plans stay JVM-only."""
    import datetime as dt

    from xrpl_rich_list_py_crawler_spark.operators.sitemap import (
        child_sitemaps,
        parse_sitemap,
        sitemap_seeds,
    )
    from xrpl_rich_list_py_crawler_spark.plans.rounds import seeds_to_frontier

    bodies = {
        "a": ("<urlset><url><loc>https://a/x</loc>"
              "<lastmod>2026-02-03T04:05:06Z</lastmod></url>"
              "<url>\n <loc> https://a/y </loc>"
              "<lastmod>2026-02-04</lastmod></url>"
              "<url><loc>https://a/z</loc></url></urlset>"),
        "b": ("<sitemapindex><sitemap><loc>https://b/s1.xml</loc></sitemap>"
              "<sitemap><loc>https://b/s2.xml</loc></sitemap></sitemapindex>"),
        "c": "<urlset><url><loc></loc></url></urlset>",
        "d": "<urlset><url><lastmod>2026-01-01</lastmod></url></urlset>",
    }
    raw = spark.createDataFrame(list(bodies.items()), "host string, sitemap_xml string")
    parsed = parse_sitemap(raw)
    rows = {(r["host"], r["url"]): r for r in parsed.collect()}
    assert set(rows) == {("a", "https://a/x"), ("a", "https://a/y"), ("a", "https://a/z")}
    assert rows[("a", "https://a/x")]["lastmod_ts"] == dt.datetime(2026, 2, 3, 4, 5, 6)
    assert rows[("a", "https://a/y")]["lastmod_ts"] == dt.datetime(2026, 2, 4)
    assert rows[("a", "https://a/z")]["lastmod_ts"] is None
    assert all(r["n_children"] == 0 for r in rows.values())
    kids = sorted(r["sitemap_url"] for r in child_sitemaps(raw).collect())
    assert kids == ["https://b/s1.xml", "https://b/s2.xml"]
    for df in (parsed, child_sitemaps(raw)):
        assert "EvalPython" not in df._jdf.queryExecution().executedPlan().toString()
    # parsed sitemap entries feed the frontier bootstrap unchanged
    frontier = seeds_to_frontier(sitemap_seeds(parsed))
    got = {r["url"]: r for r in frontier.collect()}
    assert got["https://a/x"]["depth"] == 0
    assert got["https://a/x"]["discovery_ts"] == dt.datetime(2026, 2, 3, 4, 5, 6)
    assert got["https://a/z"]["discovery_ts"] == dt.datetime(2026, 1, 1)  # default
    assert got["https://a/x"]["host"] == "a"
    assert got["https://a/x"]["url_hash"] is not None


def test_robots_and_sitemap_bulk_fuzz_vs_python_re(spark):
    """Bulk engine-equivalence fuzz: 300 randomized (seeded) robots.txt
    and sitemap bodies parsed by Spark (Java regex) must agree with an
    independent Python-re twin built from the same documented grammar —
    guarding the Java/RE2/PCRE margins (CRLF, \\x0b, stray directives,
    per-bot sections, nested junk) beyond the handwritten matrices."""
    import re

    import numpy as np

    from xrpl_rich_list_py_crawler_spark.operators import politeness as pol
    from xrpl_rich_list_py_crawler_spark.operators import sitemap as sm

    rng = np.random.RandomState(7)
    robots_lines = [
        "User-agent: *", "User-Agent: *", "user-agent:*", "User-agent: bot7",
        "User-agent: x*", "Disallow: /p1", "Disallow: /p2/", "disallow: /Q",
        "Disallow:", "Crawl-delay: 3", "crawl-delay: 2.5", "Crawl-delay: x",
        "Allow: /ok", "# comment", "", "\x0b", "Sitemap: https://e/s.xml",
    ]
    seps = ["\n", "\r\n"]
    docs = []
    for i in range(300):
        n = rng.randint(0, 12)
        body = "".join(
            robots_lines[rng.randint(len(robots_lines))] + seps[rng.randint(2)]
            for _ in range(n)
        )
        docs.append((f"h{i}", body))

    def py_robots(txt):
        import math

        secs = re.split(pol.ROBOTS_UA_SPLIT, txt)
        star = [s for s in secs if re.search(pol.ROBOTS_STAR_LINE, s)]
        sec = star[0] if star else None
        dis = re.findall(pol.ROBOTS_DISALLOW, sec) if sec is not None else []
        m = re.search(pol.ROBOTS_DELAY, sec) if sec is not None else None
        delay = float(m.group(1)) if m else 1.0
        budget = min(16, max(1, math.floor(16.0 / delay))) if m else 16
        return (sec is not None, dis, delay, budget)

    raw = spark.createDataFrame(docs, "host string, robots_txt string")
    got = {r["host"]: r for r in pol.parse_robots_txt(raw).collect()}
    for host, txt in docs:
        has, dis, delay, budget = py_robots(txt)
        r = got[host]
        assert r["has_rules"] == has, (host, repr(txt))
        assert r["disallow_prefixes"] == dis, (host, repr(txt))
        assert r["crawl_delay_s"] == delay, (host, repr(txt))
        assert r["max_fetches_per_round"] == budget, (host, repr(txt))

    # sitemap fuzz: shuffled well-formed/malformed fragments
    frags = [
        "<url><loc>https://e/a</loc></url>",
        "<url><loc> https://e/b </loc><lastmod>2026-03-04</lastmod></url>",
        "<url><lastmod>2026-01-01</lastmod></url>",
        "<url><loc></loc></url>",
        "<url><loc>https://e/c</loc><lastmod>2026-03-04T05:06:07Z</lastmod></url>",
        "<url><loc>https://e/d</loc><lastmod>garbage</lastmod></url>",
        "<sitemap><loc>https://e/s1.xml</loc></sitemap>",
        "<url><loc>https://e/e</loc>",  # unterminated: must not match
        "junk <notatag/>", "\n\n",
    ]
    sdocs = []
    for i in range(300):
        n = rng.randint(0, 8)
        body = "<urlset>" + "".join(
            frags[rng.randint(len(frags))] for _ in range(n)
        ) + "</urlset>"
        sdocs.append((f"s{i}", body))

    def py_sitemap(xml):
        out = []
        n_children = len(re.findall(sm.SITEMAP_CHILD_BLOCK, xml))
        for b in re.findall(sm.SITEMAP_URL_BLOCK, xml):
            mu = re.search(sm.SITEMAP_LOC, b)
            ml = re.search(sm.SITEMAP_LASTMOD, b)
            url = mu.group(1) if mu else ""
            if url:
                out.append((url, ml.group(1) if ml else "", n_children))
        return out

    sraw = spark.createDataFrame(sdocs, "host string, sitemap_xml string")
    srows = {}
    for r in sm.parse_sitemap(sraw).collect():
        srows.setdefault(r["host"], []).append(r)
    import datetime as dt

    for host, xml in sdocs:
        expect = py_sitemap(xml)
        gotrows = srows.get(host, [])
        assert len(gotrows) == len(expect), (host, xml)
        # parse_sitemap preserves per-doc entry order within explode
        for r, (url, lm, nch) in zip(gotrows, expect):
            assert r["url"] == url and r["n_children"] == nch, (host, xml)
            if lm == "" or lm == "garbage":
                assert r["lastmod_ts"] is None
            else:
                norm = (lm.replace("T", " ") + " 00:00:00")[:19]
                assert r["lastmod_ts"] == dt.datetime.strptime(
                    norm, "%Y-%m-%d %H:%M:%S"
                )


def test_sitemap_seeds_accepts_parse_robots_txt_dim(spark):
    """sitemap_seeds(robots=...) must accept BOTH host dims the engine
    builds: the run-level robots dim (has host_rank) and parse_robots_txt
    output (no host_rank column — robots.txt has no rank concept). The
    r04 pairing raised AnalysisException (ADVICE r04); now the missing
    column coalesces to 0.0."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        parse_robots_txt,
    )
    from xrpl_rich_list_py_crawler_spark.operators.sitemap import (
        parse_sitemap,
        sitemap_seeds,
    )

    raw_sm = spark.createDataFrame(
        [("a", "<urlset><url><loc>https://a/x</loc></url></urlset>")],
        "host string, sitemap_xml string",
    )
    parsed = parse_sitemap(raw_sm)
    raw_robots = spark.createDataFrame(
        [("a", "User-agent: *\nCrawl-delay: 2\n")],
        "host string, robots_txt string",
    )
    no_rank = parse_robots_txt(raw_robots)
    assert "host_rank" not in no_rank.columns
    got = sitemap_seeds(parsed, robots=no_rank).collect()
    assert [(r["url"], r["host_rank"]) for r in got] == [("https://a/x", 0.0)]
    # and the ranked dim still flows through
    ranked = spark.createDataFrame([("a", 7.5)], "host string, host_rank double")
    got2 = sitemap_seeds(parsed, robots=ranked).collect()
    assert [(r["url"], r["host_rank"]) for r in got2] == [("https://a/x", 7.5)]


def test_budget_from_delay_slots(spark):
    """r05 budget coupling (VERDICT r04 #8): in the same round, a
    7s-delay host gets floor(16/7)=2 selected slots while a 1s-delay
    host gets all 16 — the reference's effective per-host rate is
    batch_size × sleep, not a flat batch count."""
    import datetime as dt

    from xrpl_rich_list_py_crawler_spark.operators import politeness as pol

    dim = pol.derive_budget_from_delay(
        spark.createDataFrame(
            [("slow", [], 7.0, 16), ("fast", [], 1.0, 16)],
            "host string, disallow_prefixes array<string>, "
            "crawl_delay_s double, max_fetches_per_round int",
        )
    )
    budgets = {r["host"]: r["max_fetches_per_round"] for r in dim.collect()}
    assert budgets == {"slow": 2, "fast": 16}
    cand = spark.createDataFrame(
        [
            (f"https://{h}/p{i}", i, h, 0, 0.0, dt.datetime(2026, 1, 1))
            for h in ("slow", "fast")
            for i in range(20)
        ],
        "url string, url_hash long, host string, depth int, "
        "host_rank double, discovery_ts timestamp",
    )
    assigned = pol.assign_politeness_gated(pol.apply_robots(cand, dim))
    sel = {
        h: sum(r["selected"] for r in assigned.collect() if r["host"] == h)
        for h in ("slow", "fast")
    }
    assert sel == {"slow": 2, "fast": 16}
    # pacing still follows the host's own delay
    slow = [r for r in assigned.collect()
            if r["host"] == "slow" and r["host_slot"] == 2]
    assert slow[0]["fetch_delay_s"] == 7.0


def test_robots_wildcard_precedence_google_examples(spark):
    """REP longest-match precedence on the Google REP doc's own example
    matrix: longest rule wins, Allow wins length ties, trailing $
    anchors, * spans path segments, no-rules = allowed."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        robots_wildcard_allowed,
    )

    rows = [
        ("/page", ["/p"], ["/"], True),
        ("/folder/page", ["/folder"], ["/folder"], True),
        ("/page.htm", ["/page"], ["/*.htm"], False),
        ("/", ["/$"], ["/"], True),
        ("/other", ["/$"], ["/"], False),
        ("/page.php5", ["/page"], ["/*.ph"], True),
        ("/any", None, None, True),
        ("/private/x", [], ["/private"], False),
        ("/docs/file.pdf", [], ["/*.pdf$"], False),
        ("/docs/file.pdfx", [], ["/*.pdf$"], True),
        ("/a.b+c", [], ["/a.b+c"], False),   # metachars match literally
        ("/aXbbc", [], ["/a.b+c"], True),
    ]
    df = spark.createDataFrame(
        rows,
        "path string, al array<string>, dis array<string>, exp boolean",
    )
    out = df.select(
        "path",
        "exp",
        robots_wildcard_allowed(
            F.col("path"), F.col("al"), F.col("dis")
        ).alias("got"),
    ).collect()
    for r in out:
        assert r["got"] == r["exp"], r["path"]


def test_parse_robots_collect_allow(spark):
    """collect_allow=True adds line-anchored Allow extraction ('Disallow'
    can never false-match); default output schema is unchanged."""
    body = (
        "User-agent: *\nDisallow: /a\nAllow: /a/open\n"
        "Crawl-delay: 2\n"
    )
    raw = spark.createDataFrame(
        [("h.com", body)], "host string, robots_txt string"
    )
    dim = parse_robots_txt(raw, collect_allow=True).collect()[0]
    assert dim["disallow_prefixes"] == ["/a"]
    assert dim["allow_prefixes"] == ["/a/open"]
    assert "allow_prefixes" not in parse_robots_txt(raw).columns


def test_apply_robots_wildcard_matches_fast_path_on_literal_rules(spark):
    """For metachar-free rule sets the wildcard path must produce the
    SAME verdicts as the literal-prefix fast path (regex-escaped prefix
    match ≡ startswith)."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        apply_robots,
    )

    robots = spark.createDataFrame(
        [
            ("a.com", ["/private", "/tmp/"], 1.0, 16),
            ("b.com", [], 2.0, 8),
        ],
        "host string, disallow_prefixes array<string>, "
        "crawl_delay_s double, max_fetches_per_round int",
    )
    cands = spark.createDataFrame(
        [
            ("a.com", "https://a.com/private/x"),
            ("a.com", "https://a.com/privateer"),   # startswith semantics
            ("a.com", "https://a.com/ok"),
            ("a.com", "https://a.com"),             # empty path -> "/"
            ("b.com", "https://b.com/anything"),
            ("c.com", "https://c.com/no-dim-host"),
        ],
        "host string, url string",
    )

    def verdicts(**kw):
        return {
            r.url: r.robots_denied
            for r in apply_robots(cands, robots, **kw).collect()
        }

    fast = verdicts()
    assert fast["https://a.com/private/x"] is True
    assert fast["https://a.com/privateer"] is True
    assert fast["https://a.com/ok"] is False
    assert fast["https://c.com/no-dim-host"] is False
    assert verdicts(wildcard=True) == fast
    assert verdicts(wildcard=True, active_only=True) == fast


def test_apply_robots_wildcard_precedence(spark):
    """Wildcard mode applies full REP precedence: */$ patterns match,
    longest rule wins, Allow overrides equal-or-shorter Disallow."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        apply_robots,
    )

    robots = spark.createDataFrame(
        [("a.com", ["/p*/x$", "/a"], ["/a/open*"], 1.0, 16)],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_s double, "
        "max_fetches_per_round int",
    )
    cands = spark.createDataFrame(
        [
            ("a.com", "https://a.com/pAA/q/x"),    # matches /p*/x$ -> deny
            ("a.com", "https://a.com/pAA/q/xy"),   # $ anchor -> allow
            ("a.com", "https://a.com/a/closed"),   # /a -> deny
            ("a.com", "https://a.com/a/open/1"),   # longer Allow wins
        ],
        "host string, url string",
    )
    wc = {
        r.url: r.robots_denied
        for r in apply_robots(cands, robots, wildcard=True).collect()
    }
    assert wc["https://a.com/pAA/q/x"] is True
    assert wc["https://a.com/pAA/q/xy"] is False
    assert wc["https://a.com/a/closed"] is True
    assert wc["https://a.com/a/open/1"] is False
    # fast path treats the same patterns as literals: nothing starts
    # with the literal "/p*/x$", so only the "/a" rules fire
    fast = {
        r.url: r.robots_denied
        for r in apply_robots(cands, robots.drop("allow_prefixes")).collect()
    }
    assert fast["https://a.com/pAA/q/x"] is False


def test_crawl_run_wildcard_robots_identical_on_literal_fixture(
    spark, tmp_path
):
    """CrawlRun(wildcard_robots=True) reproduces the default crawl
    byte-for-byte on the fixture universe (its robots rules are all
    literal prefixes) — the fidelity path is a drop-in."""
    from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog
    from xrpl_rich_list_py_crawler_spark.sources.fixtures import (
        ensure_crawl_fixtures,
    )

    d = ensure_crawl_fixtures("sf0.001")
    pages, robots, seeds = (
        spark.read.parquet(f"{d}/{t}.parquet")
        for t in ("pages", "robots", "seeds")
    )

    def crawl(wc):
        cat = SnapshotCatalog(str(tmp_path / f"wc_{wc}"))
        CrawlRun(spark, cat, pages, robots, wildcard_robots=wc).run(2, seeds)
        res = cat.read_appended(spark, "results")
        return sorted(
            (r["round"], r["rank"], r["url"]) for r in res.collect()
        )

    assert crawl(False) == crawl(True)


def test_parse_robots_collect_sitemaps_is_global(spark):
    """Sitemap: directives are global (REP draft) — collected from the
    WHOLE body even when they sit inside another agent's section; absent
    directive -> empty array; default call emits no column."""
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        parse_robots_txt,
    )

    raw = spark.createDataFrame(
        [
            ("a.com",
             "Sitemap: https://a.com/sm.xml\nUser-agent: *\n"
             "Disallow: /x\n"),
            ("b.com",
             "User-agent: googlebot\nDisallow: /g\n"
             "sitemap: https://b.com/s1.xml\n"
             "User-agent: *\nSitemap: https://b.com/s2.xml\n"),
            ("c.com", "User-agent: *\nDisallow: /\n"),
        ],
        "host string, robots_txt string",
    )
    dim = parse_robots_txt(raw, collect_sitemaps=True)
    got = {r.host: r.sitemap_urls for r in dim.collect()}
    assert got["a.com"] == ["https://a.com/sm.xml"]
    assert got["b.com"] == ["https://b.com/s1.xml", "https://b.com/s2.xml"]
    assert got["c.com"] == []
    assert "sitemap_urls" not in parse_robots_txt(raw).columns
