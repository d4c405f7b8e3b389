"""Driver-contract smoke: entry() produces rows; queries()/oracle_sql()
registries are consistent; a sample of queries runs at sf0.001."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "conv_id" in df.columns and "text" in df.columns


def test_registry_consistency():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
    # every query is oracle-checked — no rows-only omissions remain
    assert set(qs) == set(oracles)


@pytest.mark.parametrize(
    "name",
    ["flagship_features", "asof_join", "sessionize", "tpch_q1", "text_profile"],
)
def test_sample_queries_run_sf0001(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() > 0


def test_stream_static_join_with_grouped_dimension_drains_append(spark, tmp_path):
    """The output mode comes from Aggregate nodes over STREAMING rows only:
    a stream-static join whose static side is a groupBy has no streaming
    aggregation, so it must drain in append mode (Spark refuses complete
    mode for it), while a real streaming groupBy still counts."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 5.0)], "id long, k string, v double"
    )
    dim = ev.groupBy("k").agg(F.sum("v").alias("tot"))
    drained = entry_mod._drain_two_drops(
        spark, ev.select("id", "k"), F.col("id") <= 1,
        lambda s: s.join(dim, "k"), "stream_static_agg_",
    )
    assert sorted(map(tuple, drained.select("id", "tot").collect())) == [
        (1, 3.0), (2, 3.0), (3, 5.0),
    ]

    ev.write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "in"))
    assert not entry_mod._is_agg(stream.join(dim, "k"))
    assert entry_mod._is_agg(stream.groupBy("k").count())
