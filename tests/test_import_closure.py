"""The crawl core's import closure: the crawl round, the analytics
refresh and the catalog load no module of the training-data library."""

import os
import subprocess
import sys

PKG = "xrpl_rich_list_py_crawler_spark"
OUTSIDE_CORE = (
    "operators.curation", "operators.dedup", "operators.similarity",
    "operators.textstats", "operators.lm", "operators.graph",
    "operators.packing", "operators.sessions", "operators.sitemap",
    "sources.warc", "sources.cdx", "sources.http_fetch", "sources.fixtures",
)


def test_crawl_core_imports_no_training_library():
    # a fresh interpreter: this test session has already imported everything
    code = (
        "import sys\n"
        f"import {PKG}.plans.rounds, {PKG}.plans.pipeline, {PKG}.sources.catalog\n"
        f"print('\\n'.join(m for m in sys.modules if m.startswith('{PKG}.')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert f"{PKG}.plans.rounds" in out
    assert sorted({f"{PKG}.{m}" for m in OUTSIDE_CORE} & set(out)) == []
