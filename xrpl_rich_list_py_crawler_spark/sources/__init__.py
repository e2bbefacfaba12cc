"""Sources & sinks: deterministic fixture generators, the snapshot
catalog (Parquet + JSON-manifest emulation of Iceberg atomic commits) and
the readers and writers for WARC, CDX and HTTP.

The package re-exports nothing: import the submodule you need, e.g.
``from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog``.
The crawl core uses ``catalog``; importing it must not load the
synthetic-corpus generator in ``fixtures`` or the WARC/CDX/HTTP modules.
"""
