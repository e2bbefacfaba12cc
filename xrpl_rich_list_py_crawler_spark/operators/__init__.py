"""Reusable dataflow operators (SURVEY.md §2 mappings + §4.2 custom ops).

The package re-exports nothing: import the submodule you need, e.g.
``from xrpl_rich_list_py_crawler_spark.operators.seen import anti_join_seen``.
The crawl core uses ``seen``, ``politeness``, ``frontier`` and ``asof``;
importing one of them must not load the training-data operators
(``curation``, ``dedup``, ``similarity``, ``textstats``, ``lm``, …) into the
Spark driver or into every Python worker that unpickles a crawl UDF.
"""
