"""Per-host politeness: robots gate + token-bucket window assignment.

Generalizes the reference's client-side admission control — batches of 16
with 1-2 s inter-batch sleeps (``validator.py:123,181-182``,
``scraper.py:260-261``) — and its broadcast dimension gate
(``loader.py:120-136``, ``enricher-rlusd.py:82-101``) into pure window
math: no wall clock, fully deterministic, shuffle-partitioned by host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: robots.txt grammar (RE2/Java-portable: explicit whitespace classes —
#: NO ``\s`` (engines disagree on U+000B), no lookahead (RE2 has none),
#: inline (?i) for the case-insensitive directive names)
ROBOTS_UA_SPLIT = r"(?i)user-agent:"
ROBOTS_STAR_LINE = r"^[ \t]*\*[ \t]*(\r\n|\n|$)"
ROBOTS_DISALLOW = r"(?i)disallow:[ \t]*([^ \t\r\n]+)"
#: line-anchored so it cannot match inside "Disallow:" (no lookbehind —
#: must stay RE2-portable for the SQL twin)
ROBOTS_ALLOW = r"(?im)^[ \t]*allow:[ \t]*([^ \t\r\n]+)"
ROBOTS_DELAY = r"(?i)crawl-delay:[ \t]*([0-9]+(\.[0-9]+)?)"
#: Sitemap: directives are GLOBAL per the REP draft (not scoped to a
#: user-agent section) — extracted from the whole body, line-anchored
ROBOTS_SITEMAP = r"(?im)^[ \t]*sitemap:[ \t]*([^ \t\r\n]+)"


def parse_robots_txt(
    raw: DataFrame,
    text_col: str = "robots_txt",
    host_col: str = "host",
    default_delay_s: float = 1.0,
    default_budget: int = 16,
    round_budget_s: float = 16.0,
    collect_allow: bool = False,
    collect_sitemaps: bool = False,
) -> DataFrame:
    """Parse raw per-host robots.txt bodies into the politeness dimension
    :func:`apply_robots` consumes (north_rule: "robots.txt allow/deny
    cache broadcast to executors" — this is the cache *builder*; the
    reference consumes a pre-resolved allow dim, ``loader.py:120-136``).

    Entirely JVM-side (split + rlike filter + regexp_extract_all in
    whole-stage codegen — at 10^8 hosts this runs once per robots refresh
    over a host-partitioned table, no Python). Grammar, deliberately the
    interoperable core of the de-facto standard:

    * only the FIRST ``User-agent: *`` section applies (per-bot sections
      are ignored — the engine crawls as ``*``);
    * ``Disallow: <prefix>`` lines collect into ``disallow_prefixes``
      (empty ``Disallow:`` = allow-all, naturally skipped); matching is
      literal prefix match (wildcards treated literally — documented
      simplification, conservative for ``*``-patterns);
    * ``Crawl-delay: <seconds>`` when present, else ``default_delay_s``;
    * a host with no ``*`` section (or an empty file) gets
      ``has_rules=false`` + empty prefixes = allow everything.

    Output: (host, has_rules, disallow_prefixes, crawl_delay_s,
    max_fetches_per_round) — drop-in for ``apply_robots``. robots.txt
    has no budget directive, so the budget is DERIVED from the delay the
    host did supply (r05, VERDICT r04 #8): ``floor(round_budget_s /
    crawl_delay_s)`` clamped to [1, default_budget] — the reference's
    effective per-host rate is likewise batch_size × sleep
    (``validator.py:123,181``), so a host demanding a 7 s delay gets 2
    slots of a 16 s round, not the same 16 a 1 s host gets. Hosts that
    supplied NO delay keep the flat ``default_budget``.

    ``collect_allow=True`` (late r05) additionally emits
    ``allow_prefixes`` — the ``Allow:`` lines of the same section
    (line-anchored extraction, so "Disallow:" can never false-match) —
    for REP wildcard/longest-match gating via
    :func:`robots_wildcard_allowed`.
    """
    # F.get, not element_at: under Spark 4's default ANSI mode
    # element_at raises INVALID_ARRAY_INDEX on the empty (no-star) array;
    # get returns NULL like DuckDB's list[1]
    sec = F.get(
        F.filter(
            F.split(F.col(text_col), ROBOTS_UA_SPLIT),
            lambda s: s.rlike(ROBOTS_STAR_LINE),
        ),
        0,
    )
    dis = F.regexp_extract_all(sec, F.lit(ROBOTS_DISALLOW), 1)
    allow_cols = (
        [
            F.coalesce(
                F.regexp_extract_all(sec, F.lit(ROBOTS_ALLOW), 1),
                F.array().cast("array<string>"),
            ).alias("allow_prefixes")
        ]
        if collect_allow
        else []
    )
    sitemap_cols = (
        [
            # whole body, NOT the star section: Sitemap: is global (REP
            # draft §2.3) — the natural bootstrap feed for
            # sitemap.sitemap_seeds
            F.coalesce(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(ROBOTS_SITEMAP), 1
                ),
                F.array().cast("array<string>"),
            ).alias("sitemap_urls")
        ]
        if collect_sitemaps
        else []
    )
    delay_raw = F.regexp_extract(sec, ROBOTS_DELAY, 1)
    delay_supplied = delay_raw.isNotNull() & (delay_raw != "")
    delay = F.when(delay_supplied, delay_raw.cast("double")).otherwise(
        F.lit(default_delay_s)
    )
    return raw.select(
        F.col(host_col).alias("host"),
        sec.isNotNull().alias("has_rules"),
        F.coalesce(dis, F.array().cast("array<string>")).alias(
            "disallow_prefixes"
        ),
        *allow_cols,
        *sitemap_cols,
        delay.alias("crawl_delay_s"),
        F.when(delay_supplied, _budget_from_delay(delay, round_budget_s, default_budget))
        .otherwise(F.lit(default_budget))
        .cast("int")
        .alias("max_fetches_per_round"),
    )


def robots_rule_regex(pat):
    """REP path pattern → anchored regex (late r05): every regex
    metachar escaped literally, ``*`` → ``.*``, a TRAILING ``$`` →
    end-of-path anchor (mid-pattern ``$`` stays literal, per the REP
    draft). One transformation, valid in both Java regex (Spark
    codegen) and RE2 (the DuckDB oracle twin builds the identical
    string). Closes the r04 'wildcards treated literally' documented
    simplification — as an opt-in; the literal-prefix fast path stays
    the crawl default."""
    esc = F.regexp_replace(pat, r"([\\.\+\?\(\)\[\]\{\}\|\^\$])", r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), F.regexp_replace(star, r"\\\$$", r"\$"))


def robots_wildcard_allowed(path, allow_pats, dis_pats):
    """REP precedence (google REP draft §2.4.2): the most specific —
    LONGEST-pattern — matching rule wins; ``Allow`` wins length ties;
    no matching rule at all = allowed. Null/empty rule arrays behave as
    'no rules'.

    Cost model: rules-per-host lists are tiny (p50 well under 32 rules
    in public crawls) and ride a broadcast dim, so the per-URL work is
    |rules| short regex matches — linear, shuffle-free, and only on the
    opt-in fidelity path."""

    def best(pats):
        scored = F.transform(
            pats,
            lambda p: F.when(
                F.regexp_like(path, robots_rule_regex(p)), F.length(p)
            ).otherwise(F.lit(-1)),
        )
        return F.coalesce(F.array_max(scored), F.lit(-1))

    return best(allow_pats) >= best(dis_pats)


def _budget_from_delay(delay, round_budget_s: float, default_budget: int):
    """floor(round_budget_s / delay) clamped to [1, default_budget]."""
    return F.least(
        F.lit(default_budget),
        F.greatest(
            F.lit(1), F.floor(F.lit(round_budget_s) / delay).cast("int")
        ),
    )


def derive_budget_from_delay(
    robots: DataFrame,
    round_budget_s: float = 16.0,
    default_budget: int = 16,
) -> DataFrame:
    """Recompute ``max_fetches_per_round`` of an EXISTING robots dimension
    from its ``crawl_delay_s`` (r05, VERDICT r04 #8): slow hosts get
    proportionally fewer slots per round — ``floor(round_budget_s /
    crawl_delay_s)`` clamped to [1, default_budget]; a null delay keeps
    the flat default. Use on dims built elsewhere (the fixture dim, an
    operator-supplied table); :func:`parse_robots_txt` applies the same
    rule at build time for hosts whose robots.txt supplied a delay."""
    return robots.withColumn(
        "max_fetches_per_round",
        F.when(
            F.col("crawl_delay_s").isNotNull(),
            _budget_from_delay(
                F.col("crawl_delay_s"), round_budget_s, default_budget
            ),
        )
        .otherwise(F.lit(default_budget))
        .cast("int"),
    )


def apply_robots(
    candidates: DataFrame,
    robots: DataFrame,
    active_only: bool = False,
    wildcard: bool = False,
) -> DataFrame:
    """Annotate candidates with ``robots_denied`` + politeness params.

    ``robots`` is a small per-host dimension → broadcast hash join (J3).
    A URL is denied when any disallow prefix matches its path; hosts absent
    from the dimension default to allow / delay 1s / budget 16
    (≅ defaults at ``enricher-rlusd.py:95-100``).

    ``active_only``: at a 10^8-host corpus the FULL dimension is several
    GB — too big to broadcast. The scale variant semi-joins the dim to the
    round's active hosts first (bounded by per-round host fan-out, far
    smaller), then broadcasts that slice. Semantics are identical (the
    left join only ever matches active hosts anyway); a test pins it.

    ``wildcard`` (late r05): full Google-REP precedence instead of the
    literal-prefix fast path — ``*``/``$`` patterns via
    :func:`robots_rule_regex`, longest-match-wins with ``Allow`` rules
    (:func:`robots_wildcard_allowed`; the dim's ``allow_prefixes`` from
    ``parse_robots_txt(collect_allow=True)``, coalesced to empty when the
    dim predates that option). For metachar-free rule sets the verdicts
    are identical to the fast path (a test pins it) — the cost is
    |rules| regex matches per URL instead of |rules| startswiths, still
    per-row codegen on a broadcast dim.
    """
    path = F.regexp_replace(F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "")
    path = F.when(path == "", "/").otherwise(path)
    dim_cols = [
        "host", "disallow_prefixes", "crawl_delay_s", "max_fetches_per_round"
    ]
    dim = robots
    if wildcard:
        if "allow_prefixes" not in dim.columns:
            dim = dim.withColumn(
                "allow_prefixes", F.array().cast("array<string>")
            )
        dim_cols.append("allow_prefixes")
    dim = dim.select(*dim_cols)
    if active_only:
        dim = dim.join(
            candidates.select("host").distinct(), "host", "left_semi"
        )
    if wildcard:
        denied = ~robots_wildcard_allowed(
            F.col("_path"),
            F.coalesce(
                F.col("allow_prefixes"), F.array().cast("array<string>")
            ),
            F.col("disallow_prefixes"),
        )
    else:
        denied = F.exists(
            F.col("disallow_prefixes"),
            lambda p: F.col("_path").startswith(p),
        )
    return (
        candidates.withColumn("_path", path)
        .join(
            F.broadcast(dim),
            "host",
            "left",
        )
        .withColumn("crawl_delay_s", F.coalesce("crawl_delay_s", F.lit(1.0)))
        .withColumn(
            "max_fetches_per_round",
            F.coalesce("max_fetches_per_round", F.lit(16)),
        )
        .withColumn(
            "robots_denied",
            F.when(F.col("disallow_prefixes").isNull(), F.lit(False)).otherwise(
                F.coalesce(denied, F.lit(False))
            ),
        )
        .drop("_path", "disallow_prefixes", *(
            ["allow_prefixes"] if wildcard else []
        ))
    )


def assign_politeness_gated(gated: DataFrame) -> DataFrame:
    """Token-bucket slot assignment within each host (T8 as window math),
    over the *gated* frame (``apply_robots`` output, robots_denied rows kept).

    Adds:
      * ``host_slot``     — 1-based fetch position within the host this
                            round (``row_number`` over the priority order);
      * ``selected``      — allowed and slot ≤ per-host budget (reference
                            batch_size=16, ``validator.py:123``); unselected
                            allowed rows are *deferred*, not dropped — they
                            stay in the frontier for the next round;
      * ``fetch_delay_s`` — (slot-1) × crawl_delay: the deterministic stand-in
                            for ``asyncio.sleep`` pacing
                            (``validator.py:181-182``).

    Denied rows sort last within their host, so allowed rows get slots
    1..n, and the whole round state lives in ONE frame that can be
    persisted once and sliced into denied/selected/deferred. One shuffle
    on ``host``; the window sort is the only per-host work.
    """
    w = Window.partitionBy("host").orderBy(
        F.col("robots_denied").asc(),
        F.col("depth").asc(),
        F.col("discovery_ts").asc(),
        F.col("url_hash").asc(),
    )
    slot = F.row_number().over(w)
    return (
        gated.withColumn("host_slot", slot)
        .withColumn(
            "selected",
            ~F.col("robots_denied")
            & (F.col("host_slot") <= F.col("max_fetches_per_round")),
        )
        .withColumn(
            "fetch_delay_s",
            (F.col("host_slot") - 1).cast("double") * F.col("crawl_delay_s"),
        )
    )
