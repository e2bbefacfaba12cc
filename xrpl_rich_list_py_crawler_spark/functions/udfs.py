"""Vectorized engine functions: Arrow pandas UDFs + JVM Column expressions.

Rule (BASELINE.json input_hint): no per-row Python UDFs. Everything Python
is an Arrow-batched ``pandas_udf``; everything expressible with builtin
``pyspark.sql.functions`` is a Column expression so it stays inside
whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from .parsers_ref import LABEL_CASE_BRANCHES, canonicalize_url

# ---------------------------------------------------------------------------
# URL canonicalization + host (engine analog of function.sql:17-50)
# ---------------------------------------------------------------------------


#: already-canonical detector: lowercase, no query/fragment, no port, no
#: trailing slash, non-empty path. Such urls pass through untouched — on a
#: web corpus ~80% of urls take this vectorized path and never reach the
#: per-element parser.
_FAST_CANON = (
    r"^[a-z][a-z0-9+.\-]*://[a-z0-9.\-]+/(?:[^?#A-Z:]*[^/?#A-Z:])?$"
)


@pandas_udf(StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalize_url (twin of parsers_ref.canonicalize_url).

    Vectorized fast path: urls that regex-verify as already canonical are
    passed through (pure pandas); only the noisy minority (query to sort,
    port/fragment/case to strip) runs the per-element urllib parser.
    Fast-path ≡ fallback equivalence is pinned in tests/test_parsers.py.
    """
    s = urls.astype("string")
    fast = s.str.match(_FAST_CANON, na=False) & ~s.str.contains(
        r"[?#A-Z]|//.*:", regex=True, na=True
    )
    out = s.copy()
    slow = ~fast
    if slow.any():
        out[slow] = s[slow].map(canonicalize_url, na_action="ignore")
    return out.astype(object)


#: noisy-url detector paired with _FAST_CANON (query to sort, uppercase or
#: port to strip, fragment to drop) — same pattern the pandas fast path
#: uses; Java and Python interpret both identically (char classes +
#: alternation only, and `.` excludes \n in both engines by default)
_FAST_CANON_BAD = r"[?#A-Z]|//.*:"


def canonicalize_urls_split(
    df, url_col: str, out_col: str = "url"
):
    """Canonicalize a URL column with the fast path lifted JVM-side.

    Split-union instead of ``when(fast, url).otherwise(udf)``: Catalyst
    hoists a pandas UDF out of a conditional into an ArrowEvalPython node
    that evaluates it for EVERY row, so the conditional form still ships
    all urls to Python. Filtering first means the ~80% already-canonical
    majority never leaves whole-stage codegen; only the noisy minority
    crosses the Arrow channel into :func:`canonicalize_url_udf` (whose
    own pandas fast-path check then agrees, pinned by property tests).

    Row ORDER is not preserved (union of two branches) — callers must
    aggregate or sort downstream, which every engine call site does.
    """
    u = F.col(url_col)
    fast = u.rlike(_FAST_CANON) & ~u.rlike(_FAST_CANON_BAD)
    fast_df = df.filter(fast).withColumn(out_col, u)
    # null-safe: filter(fast) and filter(~fast) BOTH drop null urls
    slow_df = df.filter(~fast | u.isNull()).withColumn(
        out_col, canonicalize_url_udf(url_col)
    )
    return fast_df.unionByName(slow_df)


def host_col(url: Column) -> Column:
    """JVM-side host extraction for *canonical* urls (already lowercase,
    no default port): stays in whole-stage codegen — preferred in the
    frontier hot path."""
    return F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1),
        r":\d+$",
        "",
    )


# ---------------------------------------------------------------------------
# HTML extraction (engine analog of scraper.py:100-116 cell walk)
# ---------------------------------------------------------------------------


#: the link regex as a Java-regex string — semantically identical to
#: parsers_ref._LINK_RE: `\s` is [ \t\n\x0B\f\r] in BOTH Java and Python
#: bytes-mode, and the pattern contains no `.`, so DOTALL is irrelevant.
LINK_HREF_PATTERN = r'<a\s+href="([^"]*)"'

#: Java-regex twins of parsers_ref._TITLE_RE/_PARA_RE ((?s) = DOTALL)
TITLE_PATTERN = r"(?s)<title>(.*?)</title>"
PARA_PATTERN = r"(?s)<p>(.*?)</p>"


def extract_text_col(html: Column) -> Column:
    """JVM-side text extraction (whole-stage codegen, zero Python) —
    byte-identical to parsers_ref.extract_text.

    Same decode route as :func:`extract_links_col` (cast +
    ``make_valid_utf8``), same self-synchronization argument: the
    title/para delimiters are ASCII, so match boundaries — and U+FFFD
    replacement of any invalid bytes inside or truncated at a part
    boundary — land exactly where the Python twin's per-bytes
    decode-after-join puts them (pinned on the fixture corpus plus
    adversarial bytes in tests/test_parsers.py).

    The ``slice(…, 1, 1)`` keeps the twin's SEARCH semantics for
    ``<title>`` — first title only — while still distinguishing a page
    with an EMPTY title (one '' part, so the joined text leads with a
    newline) from a page with none (no part): ``regexp_extract`` alone
    returns '' for both and would merge them.
    """
    # NOTE (r06): the duplicated ``s`` below is fine — this expression
    # lives in a PROJECT, where whole-stage codegen's subexpression
    # elimination already evaluates the cast + make_valid_utf8 repair
    # once. A bind-once lambda wrapper (the fix for duplicates inside
    # interpreted HOF lambdas, operators.textstats.bind_once) was tried
    # and measured ~25% SLOWER here: it forces the regex walks out of
    # codegen into interpreted lambda evaluation. Only lambda-captured
    # duplicates need the wrapper; project-level duplicates do not.
    s = F.make_valid_utf8(html.cast("string"))
    title = F.slice(F.regexp_extract_all(s, F.lit(TITLE_PATTERN), 1), 1, 1)
    paras = F.regexp_extract_all(s, F.lit(PARA_PATTERN), 1)
    return F.when(html.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(F.concat(title, paras), "\n")
    )


def extract_links_col(html: Column) -> Column:
    """JVM-side link extraction (whole-stage codegen, zero Python).

    The blob is cast binary→string (byte-preserving — Spark 4's strict
    ``decode()`` raises MALFORMED_CHARACTER_CODING on invalid UTF-8),
    repaired with ``make_valid_utf8`` (invalid sequences → U+FFFD, the
    same replacement the Python twin's ``errors="replace"`` applies), and
    scanned with ``regexp_extract_all``. Because the pattern's delimiters
    are ASCII and UTF-8 is self-synchronizing, match boundaries are
    byte-identical to parsers_ref.extract_links for ANY input — including
    invalid bytes inside an href (pinned in tests/test_parsers.py).
    """
    return F.regexp_extract_all(
        F.make_valid_utf8(html.cast("string")), F.lit(LINK_HREF_PATTERN), 1
    )


# ---------------------------------------------------------------------------
# Numeric parsers (scraper.py:64-78) — fully vectorized pandas string ops
# ---------------------------------------------------------------------------


@pandas_udf(DoubleType())
def parse_xrp_amount_udf(text: pd.Series) -> pd.Series:
    """Vectorized twin of parse_xrp_amount (scraper.py:64-72):
    strip 'XRP'/','/whitespace; ''/'-'/garbage → 0.0."""
    cleaned = (
        text.astype("string")
        .str.replace("XRP", "", regex=False)
        .str.replace(",", "", regex=False)
        .str.strip()
    )
    out = pd.to_numeric(cleaned, errors="coerce").astype("float64")
    return out.fillna(0.0)


@pandas_udf(DoubleType())
def parse_percentage_udf(text: pd.Series) -> pd.Series:
    """Vectorized twin of parse_percentage (scraper.py:74-78)."""
    cleaned = text.astype("string").str.replace("%", "", regex=False).str.strip()
    return pd.to_numeric(cleaned, errors="coerce").astype("float64").fillna(0.0)


# ---------------------------------------------------------------------------
# Label functions — JVM Column expressions (no Python at all)
# ---------------------------------------------------------------------------


def canonical_label_col(label: Column) -> Column:
    """The 29-branch CASE of function.sql:17-50 as a codegen'd when-chain."""
    expr = None
    for pat, contains, grouped in LABEL_CASE_BRANCHES:
        cond = label.contains(pat) if contains else label.startswith(pat)
        expr = F.when(cond, grouped) if expr is None else expr.when(cond, grouped)
    fallback = F.regexp_replace(
        F.regexp_replace(label, "^~", ""), r"\s*\([^)]*\)$", ""
    )
    return expr.otherwise(fallback)


def format_label_col(name: Column, desc: Column) -> Column:
    """loader.py:86-93 as a Column expression."""
    return (
        F.when(name.isNull() | (name == "") | (name == "Unknown"), F.lit("Unknown"))
        .when(
            desc.isNotNull() & (desc != ""),
            F.concat(name, F.lit(" ("), desc, F.lit(")")),
        )
        .otherwise(name)
    )


def safe_ratio_col(cur: Column, prev: Column) -> Column:
    """Div-by-zero-guarded percent change — function.sql:127-129 (F8):
    CASE WHEN prev = 0 THEN 0 ELSE (cur - prev) / prev * 100 END."""
    return F.when(prev == 0, F.lit(0.0)).otherwise((cur - prev) / prev * 100)


#: anchor pairs: href + PLAIN-TEXT anchor body ([^<]* — nested markup
#: yields no match, mirroring LINK_HREF_PATTERN's pragmatism). The
#: whitespace after `<a` is the explicit portable class (\x0b spelled as
#: a hex escape valid in BOTH Java regex and RE2 — the BPE_UNIT
#: engine-margin lesson), so the SQL twin matches byte-for-byte.
ANCHOR_PATTERN = r'<a[ \t\n\r\f\x0b]+href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_anchors_col(html: Column) -> Column:
    """JVM-side (url, anchor-text) pair extraction — the classic
    pretraining/link-graph signal (anchor corpora; edge labels for
    host_pagerank) the href-only :func:`extract_links_col` drops.

    Same byte-safety contract as extract_links_col: binary→string cast +
    ``make_valid_utf8`` repair, ASCII delimiters, self-synchronizing
    UTF-8. Two-pass trick because ``regexp_extract_all`` returns one
    group: collect whole matches, then re-extract both groups per
    element inside ``transform`` — still pure whole-stage codegen.
    Returns ``array<struct<url:string, anchor:string>>`` (anchor
    trimmed).
    """
    s = F.make_valid_utf8(html.cast("string"))
    matches = F.regexp_extract_all(s, F.lit(ANCHOR_PATTERN), 0)
    return F.transform(
        matches,
        lambda m: F.struct(
            F.regexp_extract(m, ANCHOR_PATTERN, 1).alias("url"),
            F.trim(F.regexp_extract(m, ANCHOR_PATTERN, 2)).alias("anchor"),
        ),
    )


#: REP link/page-level directives (nofollow/noindex). Whitespace inside
#: the tag patterns is the EXPLICIT portable class — Java's \s includes
#: U+000B, RE2's does not (the WS/BPE_UNIT oracle-margin lesson).
_TAG_WS = r"[ \t\n\r\f\x0b]"
ANCHOR_TAG_PATTERN = rf"(?i)<a{_TAG_WS}[^>]*>"
META_ROBOTS_PATTERN = (
    rf'(?i)<meta{_TAG_WS}[^>]*name="robots"[^>]*content="([^"]*)"'
)
REL_NOFOLLOW_PATTERN = r'(?i)rel="[^"]*nofollow'


def meta_robots_col(html: Column) -> Column:
    """The page's ``<meta name="robots">`` content directive, lowercased
    ('' when absent) — same decode route as :func:`extract_links_col`."""
    s = F.make_valid_utf8(html.cast("string"))
    return F.lower(F.regexp_extract(s, META_ROBOTS_PATTERN, 1))


def page_noindex_col(html: Column) -> Column:
    """True when the page's meta-robots directive carries ``noindex`` —
    the page may be crawled for links but must not enter the corpus."""
    return meta_robots_col(html).contains("noindex")


def extract_follow_links_col(html: Column) -> Column:
    """Link extraction honoring the Robots Exclusion Protocol's
    link/page-level directives, entirely in whole-stage codegen:

    - anchors carrying ``rel="nofollow"`` (any attribute order) are
      dropped;
    - a page whose ``<meta name="robots">`` content contains
      ``nofollow`` contributes NO links at all.

    Unlike :func:`extract_links_col` (href-first grammar, the golden
    crawl-order twin of parsers_ref.extract_links), this scans full
    anchor OPENING tags and re-extracts href per element, so href may
    appear after other attributes. Opt-in at the crawl level
    (``CrawlRun(respect_nofollow=True)``) — the reference simulator and
    its goldens predate REP link directives, so default crawl semantics
    are unchanged.

    Plan shape: regexp scan + array filter/transform, all JVM — fuses
    into the fetch projection, no extra shuffle.
    """
    s = F.make_valid_utf8(html.cast("string"))
    page_nofollow = F.lower(
        F.regexp_extract(s, META_ROBOTS_PATTERN, 1)
    ).contains("nofollow")
    tags = F.regexp_extract_all(s, F.lit(ANCHOR_TAG_PATTERN), 0)
    followed = F.filter(tags, lambda t: ~t.rlike(REL_NOFOLLOW_PATTERN))
    hrefs = F.filter(
        F.transform(
            followed,
            lambda t: F.regexp_extract(t, '(?i)href="([^"]*)"', 1),
        ),
        lambda u: u != "",
    )
    return F.when(page_nofollow, F.array().cast("array<string>")).otherwise(hrefs)
