"""One workload of the crawl-engine benchmark, in one Spark session.

Started by perfbench/run.py, which guards it; writes its result to --out.

Workloads (inputs generated from --seed by sources/fixtures.py):

* ``crawl_deep`` — 100 seeds over a 2,000-page corpus with the fixture
  robots (16 fetches per host per round). The operation is one crawl round
  (``CrawlRun.run_round`` to its manifest commit); small rounds, so the
  fixed per-round cost of plans.rounds and sources.catalog dominates.
* ``analytics_refresh`` — the scheduled rich-list aggregate chain
  (``plans.pipeline.refresh_analytics``, its tables written as Parquet,
  then ``significant_changes_alert``). The operation is one refresh.

Each run sets up SETUPS times (``setup_s`` = session start + the median
set-up), then runs operations until ``--seconds`` have passed and the
workload's least number of operations have run, then checks every
operation's output against a reference computed outside the timed window.
See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_DIR = os.path.join(ROOT, ".perfbench", "trace")

SETUPS = 3
MAX_OPS = 12
#: least crawl rounds per run; the crawl counts and operator replays of
#: the traced run cover exactly these rounds, so the counts repeat for one
#: seed
CRAWL_ROUNDS = 2
#: least refreshes per run. An untimed refresh comes first: the first
#: refresh in a fresh JVM takes ~2x a warm one (code generation and JIT).
REFRESHES = 1
CRAWL_PAGES = 2_000
CRAWL_SEEDS = 100
RICH_ADDRESSES = 1_000
RICH_SNAPSHOTS = 168
#: significant_changes_alert thresholds (those of the oracle query)
ALERT_PCT, ALERT_AMT = 0.1, 1_000
METRIC_SUMS = (
    "candidates", "seen_dups", "robots_denied", "budget_deferred", "fetched",
    "fetch_missing", "links_extracted", "new_frontier", "links_seen_dropped",
)


def cpus() -> int:
    """local[N]: SPARK_GRAFT_CPUS when set, as the tier-1 tests use it,
    else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def driver_memory_gb() -> int:
    """An eighth of the host's memory, at most 2 GB: the inputs are small,
    and a tight heap keeps the process-tree memory from drifting with GC
    timing."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(2, total_kb // 2**20 // 8))


def start_spark(work: str, trace: bool):
    """A session sized for this host whose files all stay under ``work``."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers must import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the environment's value would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in /tmp, from the launcher JVM or the driver
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    from pyspark.sql import SparkSession

    n = cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}")
    )
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             # Spark 4 writes zstd by default, which Python here cannot read
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


class Outcome:
    """What one run measured and how many of its operations were wrong."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.window = (0.0, 0.0)
        self.op_times: list[float] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print("perfbench: WRONG " + msg, file=sys.stderr)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def timed_ops(self, op, seconds: float, min_ops: int,
                  more=lambda: True) -> None:
        """Run ``op(i)`` until ``seconds`` have passed and ``min_ops`` have
        run (at most MAX_OPS, and only while ``more()``); records each
        one's wall time as ``op_s_p50``'s samples."""
        w0 = time.time()
        t0 = time.perf_counter()
        while len(self.op_times) < MAX_OPS and more() and (
            len(self.op_times) < min_ops or time.perf_counter() - t0 < seconds
        ):
            with self.span("op"):
                t = time.perf_counter()
                op(len(self.op_times))
                self.op_times.append(time.perf_counter() - t)
        self.window = (w0, time.time())
        self.attempted += len(self.op_times)
        self.metrics["op_s_p50"] = statistics.median(self.op_times)


def median_setup(out: Outcome, setup) -> None:
    """Run ``setup(i)`` SETUPS times; ``setup_s`` adds their median to the
    session start already in it."""
    times = []
    for i in range(SETUPS):
        t = time.perf_counter()
        setup(i)
        times.append(time.perf_counter() - t)
        out.attempted += 1
    out.metrics["setup_s"] += statistics.median(times)
    print(f"perfbench: set-ups {[round(t, 2) for t in times]}", file=sys.stderr)


# -- crawl_deep -------------------------------------------------------------


def crawl_deep(spark, args, work: str, out: Outcome) -> None:
    from pyspark.sql import functions as F

    from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
    from xrpl_rich_list_py_crawler_spark.sources import fixtures as fx
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

    pages_pd = fx.generate_pages(CRAWL_PAGES, seed=args.seed)
    seeds_pd = fx.generate_seeds(pages_pd, CRAWL_SEEDS)
    robots_pd = fx.generate_robots()  # takes no seed: fixed per-host rules
    inp = os.path.join(work, "inputs")
    os.makedirs(inp)
    pages_pd[["url", "warc_ts", "html"]].to_parquet(f"{inp}/pages.parquet")
    seeds_pd.to_parquet(f"{inp}/seeds.parquet")
    robots_pd.to_parquet(f"{inp}/robots.parquet")

    st: dict = {}
    index_s = []

    def setup(i: int) -> None:
        if "run" in st:
            st["run"].pages_idx.unpersist(blocking=True)
        st["pages"] = spark.read.parquet(f"{inp}/pages.parquet")
        robots = spark.read.parquet(f"{inp}/robots.parquet")
        seeds = spark.read.parquet(f"{inp}/seeds.parquet")
        st["cat"] = SnapshotCatalog(os.path.join(work, f"catalog{i}"))
        st["run"] = CrawlRun(spark, st["cat"], st["pages"], robots)
        t = time.perf_counter()
        st["run"].pages_idx.count()
        index_s.append(time.perf_counter() - t)
        st["run"].bootstrap(seeds)

    median_setup(out, setup)
    cat, run = st["cat"], st["run"]
    out.timed_ops(
        lambda i: run.run_round(i + 1), args.seconds, CRAWL_ROUNDS,
        more=lambda: bool(cat.row_count("frontier", cat.last_round())),
    )
    rounds = len(out.op_times)
    per_round = {
        r["round"]: r.asDict()
        for r in cat.read_appended(spark, "metrics").groupBy("round")
        .agg(*[F.sum(c).alias(c) for c in METRIC_SUMS]).collect()
    }
    processed = sum(per_round[r]["candidates"] - per_round[r]["budget_deferred"]
                    for r in range(1, rounds + 1))
    out.metrics["crawl.urls_per_s"] = processed / sum(out.op_times)
    print(f"perfbench: crawl_deep rounds={rounds} times="
          f"{[round(t, 3) for t in out.op_times]} urls={processed}",
          file=sys.stderr)

    last = rounds
    if out.tracer is not None:
        out.metrics["rounds.index_s"] = statistics.median(index_s)
        crawl_trace(spark, st["pages"], cat, run, out, per_round)
        last += 1
    t = time.perf_counter()
    check_crawl(spark, cat, pages_pd, seeds_pd, robots_pd, last, out)
    print(f"perfbench: check {time.perf_counter() - t:.1f} s", file=sys.stderr)


def crawl_trace(spark, pages, cat, run, out: Outcome, per_round: dict) -> None:
    """Per-layer numbers of a crawl: files written per round, operator
    replays on the first rounds, then a restart on the checkpoint."""
    from tracing import replay_round
    from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun

    tracer, m = out.tracer, out.metrics
    rounds = len(out.op_times)
    w0, w1 = out.window
    files = nbytes = 0
    for r in range(1, rounds + 1):
        for table in ("results", "metrics", "seen", "frontier"):
            d = os.path.join(cat.root, table, f"r{r:05d}")
            for name in os.listdir(d):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, name))
    m["catalog.files_written_per_round"] = files / rounds
    m["catalog.bytes_written_per_round"] = nbytes / rounds
    m["catalog.commit_s"] = tracer.total("catalog.commit_round", w0, w1) / rounds
    m["seen.bloom_inc_build_s"] = (
        tracer.total("seen.bloom_inc_build", w0, w1) / rounds)
    for c in ("fetched", "robots_denied", "budget_deferred",
              "links_extracted", "links_seen_dropped", "new_frontier"):
        m[f"crawl.{c}"] = sum(per_round[r][c]
                              for r in range(1, CRAWL_ROUNDS + 1))

    probe = {"probed": 0, "maybe": 0, "maybe_unseen": 0}
    for r in range(1, CRAWL_ROUNDS + 1):
        for k, v in replay_round(spark, tracer, cat, run, r).items():
            probe[k] += v
    m["seen.maybe_seen_ratio"] = probe["maybe"] / max(probe["probed"], 1)
    m["seen.bloom_fp_ratio"] = probe["maybe_unseen"] / max(probe["maybe"], 1)
    for layer in ("seen.probe", "politeness.gate", "udfs.extract",
                  "udfs.canon", "frontier.rank"):
        m[f"{layer}_s"] = tracer.total(f"replay.{layer}") / CRAWL_ROUNDS

    # restart: a fresh CrawlRun on the committed checkpoint, as a new
    # process sees it (corpus index not cached), runs one round; then the
    # seen ledger is compacted
    run.pages_idx.unpersist(blocking=True)
    with tracer.span("resume") as ctx:
        CrawlRun(spark, cat, pages, run.robots).run_round(rounds + 1)
    out.attempted += 1
    resume = tracer.spans[ctx.idx]
    cat.compact_rounds(spark, "seen")
    t0, t1 = resume.start, resume.end
    m["rounds.resume_s"] = t1 - t0
    m["catalog.read_s"] = (tracer.total("catalog.read_appended", t0, t1)
                           + tracer.total("catalog.read_state", t0, t1))
    (full,) = tracer.of("seen.bloom_full_build", t0, t1)
    m["seen.bloom_full_build_s"] = full.end - full.start
    m["seen.ledger_keys"] = full.info["keys"]
    m["seen.bloom_bytes"] = full.info["bytes"]
    m["catalog.compact_s"] = tracer.total("catalog.compact_rounds")


def check_crawl(spark, cat, pages_pd, seeds_pd, robots_pd, last: int,
                out: Outcome) -> None:
    """Compare rounds 1..last with the single-process reference simulator:
    crawl order, fetch_ok, per-round counts, conservation, final seen set."""
    from pyspark.sql import functions as F

    from xrpl_rich_list_py_crawler_spark.plans.simulator import (
        ReferenceSimulator,
    )

    sim = ReferenceSimulator(pages_pd, robots_pd)
    sim.bootstrap(seeds_pd)
    logs = [sim.run_round(r) for r in range(1, last + 1)]

    results: dict[int, list] = {}
    for row in (cat.read_appended(spark, "results")
                .select("round", "rank", "url", "fetch_ok").collect()):
        results.setdefault(row["round"], []).append(row)
    sums = {
        r["round"]: r.asDict()
        for r in cat.read_appended(spark, "metrics").groupBy("round")
        .agg(*[F.sum(c).alias(c) for c in METRIC_SUMS]).collect()
    }
    for log in logs:
        r = log.round_n
        rows = sorted(results.get(r, []), key=lambda x: x["rank"])
        s = sums.get(r)
        problems = []
        if [x["url"] for x in rows] != log.fetched_urls:
            problems.append("crawl order")
        if [x["fetch_ok"] for x in rows] != log.fetch_ok:
            problems.append("fetch_ok")
        if s is None:
            problems.append("no metrics")
        else:
            if s["candidates"] != (s["seen_dups"] + s["robots_denied"]
                                   + s["budget_deferred"] + s["fetched"]
                                   + s["fetch_missing"]):
                problems.append("conservation")
            if (s["robots_denied"], s["budget_deferred"], s["new_frontier"]) \
                    != (len(log.robots_denied), log.deferred, log.new_frontier):
                problems.append("round counts")
        if problems:
            out.fail(f"round {r}: " + ", ".join(problems))
    seen = {r[0] for r in
            cat.read_appended(spark, "seen").select("url_hash").collect()}
    if seen != sim.seen:
        out.fail(f"final seen set: {len(seen)} keys, reference {len(sim.seen)}")


# -- analytics_refresh ------------------------------------------------------

#: plans.jobs function -> the refresh step that calls it
JOB_FUNCS = {
    "validate_category_enum": "validate_categories",
    "summary_series": "summary",
    "balance_changes": "balance_changes",
    "available_changes": "available_changes",
    "category_changes": "category_changes",
    "country_changes": "country_changes",
    "category_statistics": "category_statistics",
    "country_statistics": "country_statistics",
    "available_statistics": "available_statistics",
    "analyze_tables": "analyze_tables",
}
#: RefreshResult tables, each checked against the DuckDB query of the
#: same name in __spark_entry__.oracle_sql() (summary: "summary_series")
TABLES = ("summary", "balance_changes", "available_changes",
          "category_changes", "country_changes", "category_statistics",
          "country_statistics", "available_statistics")


def analytics_refresh(spark, args, work: str, out: Outcome) -> None:
    from xrpl_rich_list_py_crawler_spark.plans import pipeline
    from xrpl_rich_list_py_crawler_spark.sources import fixtures as fx

    inp = os.path.join(work, "inputs")
    os.makedirs(inp)
    rich_pd, cats_pd = fx.generate_richlist(
        RICH_ADDRESSES, RICH_SNAPSHOTS, seed=args.seed)
    rich_path = f"{inp}/richlist.parquet"
    cats_path = f"{inp}/categories.parquet"
    rich_pd.to_parquet(rich_path, index=False)
    cats_pd.to_parquet(cats_path, index=False)
    as_of = int(rich_pd["snapshot_date"].max().timestamp())
    tables = os.path.join(work, "tables")

    st: dict = {}

    def setup(i: int) -> None:
        st["rich"] = spark.read.parquet(rich_path)
        st["cats"] = spark.read.parquet(cats_path)

    def refresh() -> None:
        if "res" in st:
            st["res"].summary.unpersist()
        rich = st["rich"]
        res = pipeline.refresh_analytics(spark, rich, st["cats"])
        for name in TABLES:
            with out.span(f"write.{name}"):
                getattr(res, name).write.mode("overwrite").parquet(
                    os.path.join(tables, name))
        with out.span("write.analyze_tables"):
            res.table_stats.collect()
        st["alert"] = pipeline.significant_changes_alert(
            spark, rich, ALERT_PCT, ALERT_AMT, as_of)
        st["res"] = res

    median_setup(out, setup)
    t = time.perf_counter()
    refresh()
    print(f"perfbench: warm-up {time.perf_counter() - t:.1f} s", file=sys.stderr)
    out.timed_ops(lambda i: refresh(), args.seconds, REFRESHES)
    n = len(out.op_times)
    print(f"perfbench: analytics_refresh ops={n} times="
          f"{[round(t, 3) for t in out.op_times]}", file=sys.stderr)

    if out.tracer is not None:
        # a step's time: its plans.jobs call plus writing its table
        for step in (*JOB_FUNCS.values(), "significant_changes"):
            out.metrics[f"jobs.{step}_s"] = (
                out.tracer.total(f"jobs.{step}", parent="op")
                + out.tracer.total(f"write.{step}", parent="op")) / n
    t = time.perf_counter()
    check_analytics(tables, st["alert"], rich_path, cats_path, out)
    print(f"perfbench: check {time.perf_counter() - t:.1f} s", file=sys.stderr)
    st["res"].summary.unpersist()


def _norm(v):
    import datetime as dt
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _alert_line(label: str, change: float, pct: float) -> str:
    """presentation.format_alert_lines, in Python."""
    c = "+" if change >= 0 else ""
    p = "+" if pct >= 0 else ""
    return f"{label}: {c}{change:,.0f} XRP ({p}{pct:,.2f}%)"


def check_analytics(tables: str, alert: str, rich_path: str, cats_path: str,
                    out: Outcome) -> None:
    """The tables the last refresh wrote, and its alert, against the DuckDB
    twin queries of __spark_entry__.oracle_sql() pointed at this run's
    inputs."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()

    def query(sql):
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def oracle(name):
        return query(oracles[name]
                     .replace(entry.RICH, f"read_parquet('{rich_path}')")
                     .replace(entry.CATS, f"read_parquet('{cats_path}')"))

    try:
        for name in TABLES:
            sc, sr = query(
                f"SELECT * FROM read_parquet('{tables}/{name}/*.parquet')")
            oc, orows = oracle("summary_series" if name == "summary" else name)
            if sorted(sc) != sorted(oc) or _rowset(sc, sr) != _rowset(oc, orows):
                out.fail(f"refresh table {name} differs from its oracle")
        oc, orows = oracle("significant_changes")
        want = [_alert_line(*row) for row in orows]
        if alert.split("\n")[1:-1] != want:
            out.fail("alert lines differ from the oracle's top movers")
    finally:
        con.close()


# -- main -------------------------------------------------------------------


def spark_layer_metrics(workload: str, log_dir: str, out: Outcome) -> None:
    """Event-log numbers per operation of the timed window."""
    from tracing import read_event_log

    log = read_event_log(log_dir)
    m, n = out.metrics, len(out.op_times)
    ops = out.tracer.of("op", *out.window)
    tot = log.totals(log.jobs_in(ops))
    for k in ("task_run_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
        m[f"spark.{k}"] = tot[k] / n
    m["trace.op_s_p50"] = m["op_s_p50"]
    if workload == "crawl_deep":
        m["rounds.spark_jobs_per_round"] = tot["jobs"] / n
        m["rounds.stages_per_round"] = tot["stages"] / n
        m["rounds.tasks_per_round"] = tot["tasks"] / n
        m["rounds.core_util"] = tot["task_run_s"] / (sum(out.op_times) * cpus())
    else:
        m["jobs.spark_jobs"] = tot["jobs"] / n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("crawl_deep", "analytics_refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        if args.workload == "crawl_deep":
            tracing.install_crawl_spans(tracer)
        else:
            tracing.install_job_spans(tracer, JOB_FUNCS)
    out = Outcome(tracer)
    t = time.perf_counter()
    spark = start_spark(args.work, tracer is not None)
    out.metrics["setup_s"] = time.perf_counter() - t
    workload = {"crawl_deep": crawl_deep,
                "analytics_refresh": analytics_refresh}[args.workload]
    try:
        workload(spark, args, args.work, out)
    finally:
        stop_spark(spark)
    if tracer is not None:
        spark_layer_metrics(args.workload,
                            os.path.join(args.work, "eventlog"), out)
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.dump(os.path.join(
            TRACE_DIR, f"{args.workload}-s{args.seed}-spans.json"))
    with open(args.out, "w") as f:
        json.dump({
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "errors": out.errors,
            "window": out.window,
            "metrics": out.metrics,
        }, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
