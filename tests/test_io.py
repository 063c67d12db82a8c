"""Parquet scan entry points: the memoized schema must never outlive the
files it was inferred from, and a missing input still fails loudly."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from youtubeanalyzerproject_big_data__spark import io


def test_memoized_schema_skips_footer_job(spark, tmp_path, run_counting_jobs):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    first, n_miss = run_counting_jobs("io-memo-miss", lambda: io.load_table(spark, str(tmp_path), "t").schema)
    again, n_hit = run_counting_jobs("io-memo-hit", lambda: io.load_table(spark, str(tmp_path), "t").schema)
    assert again == first
    assert (n_miss, n_hit) == (1, 0)  # the footer job runs once per file version


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert io.load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"name": ["a", "b"], "v": [0.5, 1.5]}), path)
    df = io.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["name", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [("a", 0.5), ("b", 1.5)]


def test_rewritten_directory_is_read_with_its_new_schema(spark, tmp_path):
    out = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1,)], "k long").write.parquet(out)
    assert io.load_table(spark, str(tmp_path), "d").columns == ["k"]
    spark.createDataFrame([("x", 2)], "name string, k long").write.mode("overwrite").parquet(out)
    df = io.load_table(spark, str(tmp_path), "d")
    assert df.columns == ["name", "k"]
    assert [tuple(r) for r in df.collect()] == [("x", 2)]


def test_inference_confs_are_part_of_the_memo_key(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"xy"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    assert dict(io.load_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"
    spark.conf.set(key, "true")
    try:
        assert dict(io.load_table(spark, str(tmp_path), "t").dtypes)["b"] == "string"
    finally:
        spark.conf.unset(key)
    assert dict(io.load_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"


@pytest.mark.parametrize("load", [lambda s, d: io.load_table(s, d, "lineitem"), io.load_events])
def test_missing_sf_dir_raises_path_not_found(spark, tmp_path, load):
    missing = str(tmp_path / "no_such_sf")
    assert not os.path.exists(missing)
    with pytest.raises(AnalysisException) as err:
        load(spark, missing)
    assert err.value.getCondition() == "PATH_NOT_FOUND"
