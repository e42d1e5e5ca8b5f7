"""Focused tests for the r13 optimization-round internals.

Covers the three behavior-preserving rewrites the round made:
- ``sources.fan_out``: the parallelism floor fires only on under-parallel
  batch frames, never repartitions down, and never changes results;
- ``similarity._normalize_centroid_matrix`` / ``_centroid_norms``: the
  driver-side (OneRowRelation) decimal normalization is bit-identical to
  the distributed decimal group-sum normalization it replaced;
- the null-safe probe/candidate joins: identical results to the old
  equi-joins, including when null keys exist on the corpus side.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_cli_data_pipeline_tools_spark.operators import similarity
from aws_cli_data_pipeline_tools_spark.sources import fan_out


def test_fan_out_raises_parallelism_of_narrow_frame(spark):
    df = spark.range(1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    wide = fan_out(df)
    assert (
        wide.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # multiset of rows unchanged
    assert sorted(r.id for r in wide.collect()) == list(range(1000))


def test_fan_out_never_repartitions_down(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).repartition(target + 7)
    assert fan_out(df).rdd.getNumPartitions() == target + 7


def test_fan_out_env_off(spark, monkeypatch):
    monkeypatch.setenv("SPARKGRAFT_SCAN_FANOUT", "off")
    df = spark.range(100).coalesce(1)
    assert fan_out(df).rdd.getNumPartitions() == 1


def test_fan_out_streaming_passthrough(spark, tmp_path):
    src = str(tmp_path / "s")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    assert fan_out(stream) is stream


def test_normalize_centroid_matrix_matches_distributed_decimal(spark):
    # adversarial magnitudes: tiny, large, negative, zero row
    cents = [
        [0.1, -0.25, 3.75, 1e-7],
        [123456.789, -0.0001, 2.5, 9.99],
        [0.0, 0.0, 0.0, 0.0],
    ]
    got = similarity._normalize_centroid_matrix(spark, cents)
    # distributed reference: the decimal group-sum normalize the rewrite
    # replaced (sqrt(CAST(sum(CAST(c*c AS DECIMAL(38,10))) AS DOUBLE)))
    rows = [
        (li, pos, float(v))
        for li, cv in enumerate(cents)
        for pos, v in enumerate(cv)
    ]
    c = spark.createDataFrame(rows, "list_id int, pos int, c double")
    nrm = c.groupBy("list_id").agg(
        F.sqrt(
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,10)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    ref_rows = (
        c.join(nrm, "list_id")
        .select(
            "list_id",
            "pos",
            F.when(F.col("nrm") > 0, F.col("c") / F.col("nrm"))
            .otherwise(F.col("c"))
            .alias("c"),
        )
        .collect()
    )
    ref: dict[tuple[int, int], float] = {
        (r["list_id"], r["pos"]): r["c"] for r in ref_rows
    }
    for li, cv in enumerate(got):
        for pos, v in enumerate(cv):
            assert v == ref[(li, pos)], (li, pos)  # bit-exact, no tolerance


def test_double_array_sql_roundtrips_exact_doubles(spark):
    vals = [0.1 + 0.2, 1e-300, -1.7976931348623157e308, 3.141592653589793]
    row = (
        spark.sql("SELECT 1 AS z")
        .select(F.expr(similarity._double_array_sql(vals)).alias("a"))
        .collect()[0]
    )
    assert list(row["a"]) == vals  # repr round-trip is exact


def test_ivf_nullsafe_join_matches_equijoin_with_null_vectors(spark):
    # corpus with a NULL embedding row: under the old equi-join the null
    # vector was dropped by the isNotNull filter; the null-safe join with
    # a probe-side not-null filter must produce the identical top-k
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    rows.append((99, None))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(
        emb, queries, k=5, n_centroids=4, n_probe=2,
        query_id_col="query_id",
    ).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 99 not in ids  # the null-vector row can never be a candidate
    assert {r["query_id"] for r in out} == {0, 1, 2}
    # ranks are dense 1..k per query with a total tie-break order
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
