"""FIXTURES.md §7.2: crawl order and seen set identical at any parallelism.

The in-session suite runs at local[8]; this test re-runs round 1-3 at
local[3] (different thread count, different shuffle partitioning) in a
fresh subprocess JVM and asserts byte-identical crawl order + seen set
against the committed simulator goldens — order must be a pure function of
data, never of partitioning (SURVEY.md §7.4).
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, sys, shutil
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[3]")
         .config("spark.sql.shuffle.partitions", "5")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog
from xrpl_rich_list_py_crawler_spark.sources.fixtures import ensure_crawl_fixtures
from xrpl_rich_list_py_crawler_spark.plans import CrawlRun
d = ensure_crawl_fixtures("sf0.001")
pages = spark.read.parquet(f"{{d}}/pages.parquet")
robots = spark.read.parquet(f"{{d}}/robots.parquet")
seeds = spark.read.parquet(f"{{d}}/seeds.parquet")
shutil.rmtree({cat!r}, ignore_errors=True)
cat = SnapshotCatalog({cat!r})
CrawlRun(spark, cat, pages, robots).run(3, seeds)
out = {{}}
for r in (1, 2, 3):
    rows = cat.read_round(spark, "results", r).orderBy("rank").select("url").collect()
    out[str(r)] = [x["url"] for x in rows]
out["seen"] = sorted(x["url_hash"] for x in cat.read_appended(spark, "seen").collect())
spark.stop()
print("RESULT " + json.dumps(out))
"""


@pytest.mark.slow
def test_crawl_identical_at_other_parallelism(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c",
         SCRIPT.format(repo=REPO, cat=str(tmp_path / "cat"))],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    got = json.loads(lines[0][7:])

    gdir = os.path.join(REPO, "tests", "goldens")
    for r in (1, 2, 3):
        want = [json.loads(l)["url"]
                for l in open(os.path.join(gdir, f"crawl_order_round{r}.jsonl"))]
        assert got[str(r)] == want, f"round {r} order differs at local[3]"
    want_seen = [int(l) for l in open(os.path.join(gdir, "seen_set_final.txt"))]
    assert got["seen"] == want_seen


OPS_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[{cores}]")
         .config("spark.sql.shuffle.partitions", "{parts}")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from xrpl_rich_list_py_crawler_spark.operators import dedup as dd
docs = spark.createDataFrame(
    [(i, "boilerplate navbar footer copyright terms privacy") for i in range(80)]
    + [(100 + i, f"the quick brown fox jumps over the lazy dog variant {{i}}")
       for i in range(60)],
    "doc_id long, text string",
)
mh = sorted((r["id_a"], r["id_b"]) for r in
            dd.minhash_lsh_candidates(docs, max_bucket_size=10).collect())
sh = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
            dd.simhash_near_dups(docs, max_hamming=3, max_bucket_size=10).collect())
pairs = spark.createDataFrame(
    [(i, i + 1) for i in range(0, 120, 2)] + [(0, 100)], "id_a long, id_b long")
ids = docs.select("doc_id")
cc = sorted((r["doc_id"], r["comp"]) for r in
            dd.connected_components(ids, pairs).collect())
spark.stop()
print("RESULT " + json.dumps({{"mh": mh, "sh": sh, "cc": cc}}))
"""


@pytest.mark.slow
def test_capped_dedup_and_cc_partition_invariant(tmp_path):
    """The capped candidate paths (salt = xxhash64(band,id), rep = min id)
    and component labels must be pure functions of data — identical at
    different core counts and shuffle partitionings."""
    env = dict(os.environ, PYTHONPATH=REPO)

    def run(cores, parts):
        out = subprocess.run(
            [sys.executable, "-c",
             OPS_SCRIPT.format(repo=REPO, cores=cores, parts=parts)],
            capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
        assert lines, out.stderr[-2000:]
        return json.loads(lines[0][7:])

    a = run(2, 3)
    b = run(8, 13)
    assert a == b
