"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all recorded from outside the program:

* :class:`Tracer` — in-memory spans around the action-bearing public calls
  of each layer, installed by wrapping the functions and methods from here;
* :func:`read_event_log` — Spark's event log (written uncompressed), each
  job attributed to the spans its submission time falls in;
* :func:`replay_round` — the lazy operator layers re-run on a committed
  round's real inputs, each timed to a noop sink.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    info: dict = field(default_factory=dict)


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str, namer=None, note=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per
        call. ``namer(args, kwargs)`` may refine the span name and
        ``note(result)`` returns facts to keep on the span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(namer(args, kwargs) if namer else name) as ctx:
                result = fn(*args, **kwargs)
                if note is not None:
                    self.spans[ctx.idx].info = note(result)
                return result

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def of(self, name: str, t0: float = 0.0, t1: float = float("inf")):
        return [s for s in self.spans
                if s.name == name and s.start >= t0 and s.end <= t1]

    def total(self, name: str, t0: float = 0.0, t1: float = float("inf"),
              parent: str | None = None) -> float:
        """Summed duration of the ``name`` spans in [t0, t1], only those
        directly under a ``parent`` span when given."""
        return sum(
            s.end - s.start for s in self.of(name, t0, t1)
            if parent is None
            or (s.parent is not None and self.spans[s.parent].name == parent)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = getattr(self.tracer._local, "stack", None)
        if stack is None:
            stack = self.tracer._local.stack = []
        self.parent = stack[-1] if stack else None
        with self.tracer._lock:
            self.idx = len(self.tracer.spans)
            self.tracer.spans.append(Span(self.name, time.time(), 0.0,
                                          self.parent, threading.get_ident()))
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.tracer.spans[self.idx].end = time.time()
        self.tracer._local.stack.pop()
        return False


def install_crawl_spans(tracer: Tracer) -> None:
    from xrpl_rich_list_py_crawler_spark.operators import seen
    from xrpl_rich_list_py_crawler_spark.plans import rounds
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

    tracer.wrap(rounds.CrawlRun, "run_round", "rounds.run_round")
    for m in ("commit_round", "read_appended", "read_state", "compact_rounds"):
        tracer.wrap(SnapshotCatalog, m, f"catalog.{m}")
    # rounds.py imports build_bloom_shards at call time, so wrapping the
    # module attribute catches every build; an increment pins the geometry
    tracer.wrap(
        seen, "build_bloom_shards", "",
        namer=lambda a, kw: "seen.bloom_inc_build"
        if kw.get("n_bits_override") is not None else "seen.bloom_full_build",
        note=lambda b: {"keys": b.n_keys, "bytes": b.n_shards * b.n_bits // 8},
    )


def install_job_spans(tracer: Tracer, steps: dict[str, str]) -> None:
    """``steps`` maps a plans.jobs function name to its refresh step; the
    alert is one step of its own (its inner jobs calls nest under it)."""
    from xrpl_rich_list_py_crawler_spark.plans import jobs, pipeline

    for fn, step in steps.items():
        tracer.wrap(jobs, fn, f"jobs.{step}")
    tracer.wrap(pipeline, "significant_changes_alert",
                "jobs.significant_changes")


# -- Spark event log --------------------------------------------------------


@dataclass
class EventLog:
    job_time: dict[int, float]          # job id -> submission (epoch s)
    job_stages: dict[int, list[int]]
    stage_done: set[int]                # stages that ran (not skipped)
    tasks: list[tuple[int, float, float, int, int]]
    # (stage, run_s, gc_s, shuffle_write_bytes, spill_bytes)

    def jobs_in(self, spans: list[Span]) -> list[int]:
        return [j for j, t in self.job_time.items()
                if any(s.start <= t <= s.end for s in spans)]

    def totals(self, jobs: list[int]) -> dict[str, float]:
        stages = {s for j in jobs for s in self.job_stages[j]}
        ran = stages & self.stage_done
        tasks = [t for t in self.tasks if t[0] in ran]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": len(tasks),
            "task_run_s": sum(t[1] for t in tasks),
            "gc_s": sum(t[2] for t in tasks),
            "shuffle_write_bytes": sum(t[3] for t in tasks),
            "spill_bytes": sum(t[4] for t in tasks),
        }


def _event_files(log_dir: str) -> list[str]:
    """The event files of the one application that logged to ``log_dir``:
    a single file, or (Spark's v2 layout) a directory of ``events_<n>_*``
    parts."""
    (name,) = os.listdir(log_dir)
    path = os.path.join(log_dir, name)
    if not os.path.isdir(path):
        return [path]
    parts = [p for p in os.listdir(path) if p.startswith("events_")]
    parts.sort(key=lambda p: int(p.split("_")[1]))
    return [os.path.join(path, p) for p in parts]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (uncompressed) event log written to ``log_dir``."""
    log = EventLog({}, {}, set(), [])
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                _add_event(log, json.loads(line))
    return log


def _add_event(log: EventLog, ev: dict) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        log.job_time[ev["Job ID"]] = ev["Submission Time"] / 1000
        log.job_stages[ev["Job ID"]] = ev["Stage IDs"]
    elif kind == "SparkListenerStageCompleted":
        log.stage_done.add(ev["Stage Info"]["Stage ID"])
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        log.tasks.append((
            ev["Stage ID"],
            m.get("Executor Run Time", 0) / 1000,
            m.get("JVM GC Time", 0) / 1000,
            (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0),
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        ))


# -- replay of the lazy operator layers -------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay_round(spark, tracer: Tracer, cat, run, round_n: int) -> dict:
    """Re-run the per-URL layers of round ``round_n`` on its committed
    inputs. Each layer's input is materialized first, so a span times that
    layer alone. Returns the seen-probe counts."""
    from pyspark.sql import functions as F

    from xrpl_rich_list_py_crawler_spark.functions.udfs import (
        canonicalize_urls_split, extract_links_col, extract_text_col,
    )
    from xrpl_rich_list_py_crawler_spark.operators.frontier import global_rank
    from xrpl_rich_list_py_crawler_spark.operators.politeness import (
        apply_robots, assign_politeness_gated,
    )
    from xrpl_rich_list_py_crawler_spark.operators.seen import (
        anti_join_seen, anti_join_seen_bloom, build_bloom_shards,
    )

    prev = round_n - 1
    frontier = cat.read_state(spark, "frontier", prev).persist()
    seen = cat.read_appended(spark, "seen", prev).persist()
    frontier.count()
    seen_keys = {r[0] for r in seen.select("url_hash").collect()}
    shards = build_bloom_shards(seen, expected_keys=max(len(seen_keys), 1))
    with tracer.span("replay.seen.probe"):
        _noop(anti_join_seen_bloom(spark, frontier, seen, shards))
    hashes = np.array([r[0] for r in frontier.select("url_hash").collect()],
                      dtype=np.int64)
    maybe = shards.maybe_contains(hashes)
    maybe_unseen = sum(1 for h in hashes[maybe] if int(h) not in seen_keys)

    unseen = anti_join_seen(frontier, seen).persist()
    unseen.count()
    with tracer.span("replay.politeness.gate"):
        _noop(assign_politeness_gated(apply_robots(
            unseen, run.robots, active_only=run.robots_active_only)))

    fetched = (
        cat.read_round(spark, "results", round_n)
        .filter(F.col("fetch_ok"))
        .select("url_hash")
        .join(run.pages_idx, "url_hash")
        .select("html")
    ).persist()
    fetched.count()
    with tracer.span("replay.udfs.extract"):
        _noop(fetched.select(extract_text_col(F.col("html")).alias("t"),
                             extract_links_col(F.col("html")).alias("l")))
    raw = fetched.select(
        F.explode(extract_links_col(F.col("html"))).alias("raw_url")
    ).persist()
    raw.count()
    with tracer.span("replay.udfs.canon"):
        _noop(canonicalize_urls_split(raw, "raw_url", "url")
              .select(F.xxhash64("url").alias("h")))

    ranked_in = (
        cat.read_round(spark, "results", round_n)
        .drop("round", "rank", "src_partition", "job_id")
    ).persist()
    ranked_in.count()
    caches: list = []
    with tracer.span("replay.frontier.rank"):
        _noop(global_rank(ranked_in, rank_col="rank", cache_registry=caches))
    for df in (frontier, seen, unseen, fetched, raw, ranked_in, *caches):
        df.unpersist()
    return {"probed": len(hashes), "maybe": int(maybe.sum()),
            "maybe_unseen": maybe_unseen}
