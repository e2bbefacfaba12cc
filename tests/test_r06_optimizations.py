"""Focused pins for the r06 optimization rewrites.

Each optimization this round kept operator OUTPUTS bit-identical while
changing how expressions evaluate (bind-once lambda variables, SQL-literal
plane/centroid tables, per-row norm precomputation, opt-in sub-split scan
spreading). These tests pin the equivalences directly, next to the
operator-level goldens that already cover the composed behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bind_once_equals_direct_evaluation(spark):
    """bind_once(arr, f) must compute exactly f(arr) — same values, same
    types — for a computed (non-attribute) array expression."""
    from xrpl_rich_list_py_crawler_spark.operators.textstats import (
        WS,
        bind_once,
    )

    df = spark.createDataFrame(
        [(1, "a bb ccc  dd\te"), (2, ""), (3, "solo")], ["id", "text"]
    )
    arr = F.filter(F.split(F.lower(F.trim(F.col("text"))), WS), lambda x: x != "")

    def bigrams(a):
        return F.transform(
            F.slice(a, 1, F.greatest(F.size(a) - 1, F.lit(0))),
            lambda w, i: F.concat_ws(" ", w, F.get(a, i + 1)),
        )

    out = df.select(
        "id",
        bigrams(arr).alias("direct"),
        bind_once(arr, bigrams).alias("bound"),
    ).collect()
    for r in out:
        assert list(r.direct) == list(r.bound), r.id
    by_id = {r.id: list(r.bound) for r in out}
    assert by_id[1] == ["a bb", "bb ccc", "ccc dd", "dd e"]
    assert by_id[2] == []
    assert by_id[3] == []


def test_plane_expr_literals_bit_equal_to_lit(spark):
    """_plane_expr's CAST(repr AS DOUBLE) SQL literals must produce the
    identical IEEE doubles F.lit(float(x)) produced before r06 — the
    exactness contract of every hyperplane/centroid oracle."""
    import numpy as np

    from xrpl_rich_list_py_crawler_spark.operators.similarity import (
        _plane_expr,
        hyperplanes,
        ivf_centroids,
    )

    for arr in (hyperplanes(64, 6), ivf_centroids(64, 16),
                np.array([[1e-7, -0.000001, 123456.654321, 0.0]])):
        for row in arr:
            got = spark.range(1).select(_plane_expr(row).alias("p")).collect()[0].p
            lit = spark.range(1).select(
                F.array(*[F.lit(float(x)) for x in row]).alias("p")
            ).collect()[0].p
            assert list(got) == list(lit)


def test_cosine_with_precomputed_norms_bit_equal(spark):
    """dot/(norm(a)*norm(b)) with per-row norms must be bit-identical to
    the inline cosine_col — same operands, same operation order."""
    from xrpl_rich_list_py_crawler_spark.operators.similarity import (
        _dot,
        _norm,
        cosine_col,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [0.5, -1.0, 2.25]),
         (2, [0.1, 0.2, 0.30000000000000004], [7.0, 1e-9, -3.5])],
        ["id", "a", "b"],
    )
    rows = df.select(
        cosine_col(F.col("a"), F.col("b")).alias("inline"),
        (
            _dot(F.col("a"), F.col("b"))
            / (_norm(F.col("a")) * _norm(F.col("b")))
        ).alias("split"),
    ).collect()
    for r in rows:
        # exact bit equality, not approx
        assert r.inline == r.split


def test_spread_is_noop_for_large_scans(spark, tmp_path):
    """_spread must leave a scan untouched when the file bytes yield at
    least core-count natural splits (the 100 TB no-op guarantee), and
    repartition a sub-split scan to the core count."""
    import __spark_entry__ as entry

    p = str(tmp_path / "t.parquet")
    # payload pushes the file past the 100 KiB spread floor while staying
    # far below one 128 MB split
    spark.range(20000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)

    small = entry._spread(spark, df, p)
    par = spark.sparkContext.defaultParallelism
    assert "Repartition" in small._jdf.queryExecution().analyzed().toString()
    assert small.rdd.getNumPartitions() == par
    # same rows either way
    assert sorted(r.id for r in small.collect()) == list(range(20000))

    # simulate a big table by shrinking the split size below file bytes
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        big = entry._spread(spark, df, p)
        assert "Repartition" not in big._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_max_partition_bytes_reads_size_suffixes(spark):
    """ADVICE: the split size is a byte string; suffixed and upper-case
    values must read as bytes, not fall back to a default."""
    import __spark_entry__ as entry

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for value, want in (("128m", 128 << 20), ("64MB", 64 << 20),
                            ("1g", 1 << 30), ("512k", 512 << 10),
                            ("1048576", 1 << 20)):
            spark.conf.set("spark.sql.files.maxPartitionBytes", value)
            assert entry._max_partition_bytes(spark) == want, value
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_floor_skips_tiny_dims(spark, tmp_path):
    import __spark_entry__ as entry

    p = str(tmp_path / "tiny.parquet")
    spark.range(5).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    out = entry._spread(spark, df, p)
    assert "Repartition" not in out._jdf.queryExecution().analyzed().toString()


def test_kmeans_sql_literal_assignment_matches_python(spark):
    """The SQL-literal centroid table must assign exactly like the
    Python-side integral distance computation (argmin, lowest-cell
    tiebreak) — including negative components."""
    from xrpl_rich_list_py_crawler_spark.operators.kmeans import (
        _tdiv,
        assign_cells_col,
    )

    cents = [[-3, 5, 0], [2, 2, 2], [-3, 5, 0]]  # duplicate → lowest wins
    vecs = [(1, [-3, 5, 1]), (2, [2, 2, 2]), (3, [0, 0, 0]), (4, [-1, 3, 1])]
    df = spark.createDataFrame(vecs, ["id", "q"]).select(
        "id", F.col("q").cast("array<long>").alias("q")
    )
    st = assign_cells_col(F.col("q"), cents)
    got = {
        r.id: (r.st.cell, r.st.dist2)
        for r in df.select("id", st.alias("st")).collect()
    }
    for vid, q in vecs:
        dists = [sum((x - c) * (x - c) for x, c in zip(q, cent)) for cent in cents]
        best = min(dists)
        cell = dists.index(best)
        assert got[vid] == (cell, best), vid
    assert _tdiv(-7, 2) == -3  # truncation, not floor (unchanged helper)
