"""Parser layer: byte-identical goldens + oracle agreement.

Pins the input_hint invariant ("byte-identical extracted text per url"):
pure-Python twin == JVM Column expression == pages.text golden column.
"""

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xrpl_rich_list_py_crawler_spark.functions import (
    canonical_label,
    canonicalize_url,
    canonicalize_url_udf,
    extract_text,
    format_label,
    parse_percentage,
    parse_xrp_amount,
)
from xrpl_rich_list_py_crawler_spark.functions.parsers_ref import (
    canonical_label_sql,
    extract_links,
)
from xrpl_rich_list_py_crawler_spark.functions.udfs import (
    canonical_label_col,
    format_label_col,
    parse_percentage_udf,
    parse_xrp_amount_udf,
)
from xrpl_rich_list_py_crawler_spark.sources.fixtures import LABEL_POOL


def test_extract_text_byte_identical_ref(crawl_sf0001):
    pages = pd.read_parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    for r in pages.itertuples(index=False):
        assert extract_text(bytes(r.html)) == r.text


def test_extract_links_col_jvm_matches_ref(spark, crawl_sf0001):
    """The r04 JVM link path (cast + make_valid_utf8 + regexp_extract_all)
    must equal the Python twin on the whole fixture corpus AND on
    adversarial bytes: tab/newline in the tag, multibyte UTF-8 inside an
    href, invalid bytes inside AND outside hrefs, empty href."""
    from xrpl_rich_list_py_crawler_spark.functions.udfs import extract_links_col

    pages = pd.read_parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    adversarial = [
        b'<a href="x">\xff\xfe<p>ok</p><a\thref="q/r">',
        b'\xc3\x28<a  href="y">',
        b'<a href="caf\xc3\xa9/page">',
        b'<a href="bad\xffhref">',
        b'<a\n href="nl">no close',
        b'<a href="">empty</a><A HREF="notme">',
        b"no links at all",
        b"",
    ]
    rows = [(str(i), bytes(h)) for i, h in enumerate(pages["html"].head(200))]
    rows += [(f"adv{i}", b) for i, b in enumerate(adversarial)]
    sdf = spark.createDataFrame(rows, "k string, html binary")
    got = {
        r["k"]: list(r["links"])
        for r in sdf.withColumn("links", extract_links_col(F.col("html"))).collect()
    }
    for k, b in rows:
        assert got[k] == extract_links(b), (k, got[k], extract_links(b))
    # and the plan stays JVM-only: no Python evaluation node
    plan = (
        sdf.withColumn("links", extract_links_col(F.col("html")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_extract_text_col_jvm_matches_ref(spark, crawl_sf0001):
    """r04: the fully-JVM text extraction must be byte-identical to
    parsers_ref.extract_text on the whole fixture corpus AND adversarial
    bytes: empty/missing/duplicate/EMPTY titles (the slice trick keeps
    search-first + empty-vs-absent semantics), multiline paras, invalid
    UTF-8 inside and outside parts, truncated multibyte at a part
    boundary, unclosed tags, uppercase tags (must NOT match)."""
    from xrpl_rich_list_py_crawler_spark.functions.udfs import extract_text_col

    pages = pd.read_parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    adversarial = [
        b"", b"<title></title>", b"<title>t</title><p>a</p><p>b</p>",
        b"<p>multi\nline</p>",
        b"<title>x</title><title>y</title><p>z</p>",
        b"<p>caf\xc3\xa9</p>", b"<p>bad\xff</p>", b"\xff\xfe<p>ok</p>",
        b"<p>unclosed", b"<TITLE>up</TITLE><P>up</P>", b"<p></p>",
        b"<p>a</p>\xc3<p>b</p>", b"<title>broken\xe2\x82</title>",
    ]
    rows = [(str(i), bytes(h)) for i, h in enumerate(pages["html"].head(200))]
    rows += [(f"adv{i}", b) for i, b in enumerate(adversarial)]
    sdf = spark.createDataFrame(rows, "k string, html binary")
    got = {
        r["k"]: r["t"]
        for r in sdf.withColumn("t", extract_text_col(F.col("html"))).collect()
    }
    for k, b in rows:
        assert got[k] == extract_text(b), (k, b)
    plan = (
        sdf.withColumn("t", extract_text_col(F.col("html")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_canonicalize_urls_split_matches_udf(spark, crawl_sf0001):
    """The split-union JVM fast path must produce exactly the UDF's
    result multiset — no dropped rows (incl. null urls), no changed
    canon forms — while routing already-canonical urls around Python."""
    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        canonicalize_urls_split,
    )

    pages = pd.read_parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    urls = list(pages["url"]) + [c[0] for c in CANON_CASES] + [None]
    sdf = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                                "i long, u string")
    split = canonicalize_urls_split(sdf, "u", "c")
    got = {r["i"]: r["c"] for r in split.collect()}
    assert len(got) == len(urls)  # no row lost to null-regex filters
    for i, u in enumerate(urls):
        expect = canonicalize_url(u) if u is not None else None
        assert got[i] == expect, (u, got[i], expect)


CANON_CASES = [
    ("https://H1.Example1.COM/p/5", "https://h1.example1.com/p/5"),
    ("https://h1.example1.com:443/p/5", "https://h1.example1.com/p/5"),
    ("http://h1.example1.com:80/p/5", "http://h1.example1.com/p/5"),
    ("http://h1.example1.com:8080/p/5", "http://h1.example1.com:8080/p/5"),
    ("https://h1.example1.com/p/5/", "https://h1.example1.com/p/5"),
    ("https://h1.example1.com/p/5#frag", "https://h1.example1.com/p/5"),
    ("https://h1.example1.com/p/5?b=2&a=1", "https://h1.example1.com/p/5?a=1&b=2"),
    ("https://h1.example1.com", "https://h1.example1.com/"),
    ("HTTPS://h1.example1.com/", "https://h1.example1.com/"),
]


@pytest.mark.parametrize("raw,canon", CANON_CASES)
def test_canonicalize_url_ref(raw, canon):
    assert canonicalize_url(raw) == canon
    assert canonicalize_url(canon) == canon  # idempotent


def test_canonicalize_url_udf_matches_ref(spark, crawl_sf0001):
    pages = pd.read_parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    urls = list(pages["url"]) + [c[0] for c in CANON_CASES]
    sdf = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: r["c"]
        for r in sdf.withColumn("c", canonicalize_url_udf("url")).collect()
    }
    for u in urls:
        assert got[u] == canonicalize_url(u)


AMOUNT_CASES = [
    ("1,234.56 XRP", 1234.56),
    ("XRP 42", 42.0),
    ("  7 ", 7.0),
    ("", 0.0),
    ("-", 0.0),
    ("garbage", 0.0),
    ("1e3", 1000.0),
    ("-55,000", -55000.0),
]

PCT_CASES = [("12.5%", 12.5), (" 0.001 %", 0.001), ("", 0.0), ("x%", 0.0)]


def test_parse_amount_ref():
    for s, want in AMOUNT_CASES:
        assert parse_xrp_amount(s) == want
    for s, want in PCT_CASES:
        assert parse_percentage(s) == want


def test_parse_amount_udf_matches_ref(spark):
    df = spark.createDataFrame([(s,) for s, _ in AMOUNT_CASES], "s string")
    got = [r["v"] for r in df.select(parse_xrp_amount_udf("s").alias("v")).collect()]
    assert got == [w for _, w in AMOUNT_CASES]
    df = spark.createDataFrame([(s,) for s, _ in PCT_CASES], "s string")
    got = [r["v"] for r in df.select(parse_percentage_udf("s").alias("v")).collect()]
    assert got == [w for _, w in PCT_CASES]


def test_canonical_label_all_branches_vs_duckdb(spark):
    """29-branch CASE (function.sql:17-50): Python twin == Spark Column ==
    DuckDB SQL rendering of the same CASE."""
    labels = LABEL_POOL + [
        "Ripple", "RippleX", "FTX cold storage", "FTX", "GateHub Ltd",
        "old gatehub thing", "~tilde (note)", "Plain Name (with note)",
        "NoParen", "eToro", "Evernode Labs Ltd (ops)",
    ]
    # Spark column expression
    sdf = spark.createDataFrame([(l,) for l in labels], "label string")
    got_spark = {
        r["label"]: r["g"]
        for r in sdf.withColumn("g", canonical_label_col(F.col("label"))).collect()
    }
    # DuckDB oracle
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"label": labels}))
    got_duck = dict(
        con.execute(
            f"SELECT label, {canonical_label_sql('label')} AS g FROM t"
        ).fetchall()
    )
    for l in labels:
        want = canonical_label(l)
        assert got_spark[l] == want, l
        assert got_duck[l] == want, l


def test_format_label(spark):
    cases = [
        ("", "", "Unknown"),
        ("Unknown", "d", "Unknown"),
        ("Kraken", "", "Kraken"),
        ("Kraken", "cold", "Kraken (cold)"),
        (None, None, "Unknown"),
    ]
    for name, desc, want in cases[:-1]:
        assert format_label(name, desc) == want
    df = spark.createDataFrame(
        [(n, d) for n, d, _ in cases], "name string, desc string"
    )
    got = [
        r["l"]
        for r in df.select(
            format_label_col(F.col("name"), F.col("desc")).alias("l")
        ).collect()
    ]
    assert got == [w for _, _, w in cases]


def test_wav_parser_matches_stdlib_wave():
    """Independent-decoder twin (r05): every synth_container WAV must
    parse identically through the engine's RIFF walk and CPython's
    stdlib `wave` module — channels, sample rate, frame count (duration
    = frames/rate). Catches any drift between the byte writer and the
    header parser that a self-roundtrip cannot."""
    import io
    import wave

    from xrpl_rich_list_py_crawler_spark.operators import multimodal as mm

    for i in range(0, 160, 4):  # every %4==0 id → WAV
        kind, payload = mm.synth_container(i)
        assert kind == "wav"
        meta = mm.sniff_decode(payload)
        with wave.open(io.BytesIO(payload)) as w:
            assert meta["n_channels"] == w.getnchannels()
            assert meta["sample_rate"] == w.getframerate()
            assert w.getsampwidth() == 2
            assert meta["duration_s"] == w.getnframes() / w.getframerate()


def test_extract_anchors_col_edges(spark):
    """Anchor pairs: multiline whitespace after <a, attribute noise
    before >, plain-text-only bodies (nested markup -> no match), trim,
    and invalid-UTF-8 byte tolerance."""
    from pyspark.sql import functions as F

    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        extract_anchors_col,
    )

    html = (
        '<a\n\thref="https://x.org/1" class="z">One link</a>'
        '<a href="/2">  padded  </a>'
        '<a href="/3"><b>nested</b></a>'       # nested markup: skipped
        '<ahref="/4">no space</a>'             # malformed: skipped
    ).encode() + b'<a href="/\xff5">bad byte</a>'
    df = spark.createDataFrame([(bytearray(html),)], "html binary")
    (row,) = df.select(
        extract_anchors_col(F.col("html")).alias("a")
    ).collect()
    got = [(a["url"], a["anchor"]) for a in row.a]
    assert got[0] == ("https://x.org/1", "One link")
    assert got[1] == ("/2", "padded")
    assert len(got) == 3                       # nested + malformed skipped
    assert got[2] == ("/�5", "bad byte")  # U+FFFD repair

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.select(extract_anchors_col(F.col("html"))).explain(
            mode="formatted"
        )
    assert "EvalPython" not in buf.getvalue()


def test_extract_follow_links_rep_directives(spark):
    """rel=nofollow anchors drop regardless of attribute order; a
    meta-robots nofollow page yields no links; href-last anchors parse;
    noindex is independent of nofollow."""
    from pyspark.sql import functions as F

    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        extract_follow_links_col,
        page_noindex_col,
    )

    cases = [
        (0, '<a href="/keep">k</a><a rel="nofollow" href="/drop">d</a>'),
        (1, '<a href="/x" rel="nofollow">d</a><a class="c" href="/y">k</a>'),
        (2, '<meta name="robots" content="nofollow"><a href="/gone">g</a>'),
        (3, '<meta name="robots" content="noindex"><a href="/kept">k</a>'),
        (4, '<A HREF="/upper">case-insensitive tag</A>'),
        (5, "no anchors at all"),
    ]
    df = spark.createDataFrame(cases, ["i", "html"]).select(
        "i",
        extract_follow_links_col(F.col("html").cast("binary")).alias("links"),
        page_noindex_col(F.col("html").cast("binary")).alias("noindex"),
    )
    rows = {r.i: r for r in df.collect()}
    assert rows[0].links == ["/keep"]
    assert rows[1].links == ["/y"]
    assert rows[2].links == [] and not rows[2].noindex
    assert rows[3].links == ["/kept"] and rows[3].noindex
    assert rows[4].links == ["/upper"]
    assert rows[5].links == [] and not rows[5].noindex
