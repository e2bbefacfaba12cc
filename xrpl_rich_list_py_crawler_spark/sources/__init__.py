"""Sources & sinks: deterministic fixture generators and the snapshot
catalog (Parquet + JSON-manifest emulation of Iceberg atomic commits).

Only the two names the crawl entry points need are re-exported; the
readers and writers for WARC, CDX and HTTP live in their own submodules
and are imported from there.
"""

from .catalog import SnapshotCatalog  # noqa: F401
from .fixtures import ensure_crawl_fixtures  # noqa: F401
