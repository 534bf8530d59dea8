"""Table loads: sources.read_parquet reuses a path's inferred schema
while the path's files and the session conf are unchanged, so a warm
load runs no Spark job and reads exactly what an inferring read reads."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lrmr_spark import sources as SRC
from lrmr_spark.plans import physical_plan
from lrmr_spark.tables import TABLES, load

SF = "/root/testdata/sf0.01"


def _reread_matches_inferring_read(spark, jobs_in_group, path):
    """A second read_parquet of ``path`` runs no job and gives the
    schema (nullability and column order included) and rows of
    ``spark.read.parquet``. Returns the second read."""
    SRC.read_parquet(spark, path)
    got, jobs = jobs_in_group(f"reread-{path}", lambda: SRC.read_parquet(spark, path))
    assert jobs == []
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert [(f.name, f.nullable) for f in got.schema] == [(f.name, f.nullable) for f in want.schema]
    assert got.collect() == want.collect()
    return got


def test_second_load_runs_no_spark_job(spark, jobs_in_group):
    load(spark, SF, "events")
    df, jobs = jobs_in_group("tables-warm-load", lambda: load(spark, SF, "events"))
    assert jobs == []
    assert dict(df.dtypes)["ts"] == "timestamp"


@pytest.mark.parametrize("name", TABLES)
def test_reread_matches_inferring_read(spark, jobs_in_group, name):
    load(spark, SF, name)  # applies the session conf the tables need
    _reread_matches_inferring_read(spark, jobs_in_group, f"{SF}/{name}.parquet")


def test_partitioned_directory_reread_keeps_partitions_and_prunes(
    spark, jobs_in_group, tmp_path
):
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y", i % 3) for i in range(100)], "id long, part string, n int"
    )
    out = str(tmp_path / "t")
    SRC.write_parquet(df, out, partition_by=["part", "n"])
    got = _reread_matches_inferring_read(spark, jobs_in_group, out)
    assert got.columns == ["id", "part", "n"]  # partition columns last, in layout order
    pruned = got.filter(F.col("part") == "x")
    assert pruned.count() == 50
    plan = physical_plan(pruned)
    assert "PartitionFilters: [isnotnull(part#" in plan and "= x)]" in plan


def test_directory_of_several_files_reread(spark, jobs_in_group, tmp_path):
    out = tmp_path / "multi"
    out.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"id": pa.array(range(i * 10, i * 10 + 10), pa.int64()), "s": [f"r{i}"] * 10}),
            str(out / f"part-{i}.parquet"),
        )
    got = _reread_matches_inferring_read(spark, jobs_in_group, str(out))
    assert got.count() == 30


def test_rewritten_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int32())}), path)
    assert SRC.read_parquet(spark, path).dtypes == [("id", "int")]
    pq.write_table(
        pa.table({"id": pa.array([3, 4], pa.int64()), "extra": ["a", "b"]}), path
    )
    got = SRC.read_parquet(spark, path)
    assert got.dtypes == [("id", "bigint"), ("extra", "string")]
    assert sorted(tuple(r) for r in got.collect()) == [(3, "a"), (4, "b")]


def test_file_added_to_directory_reinfers(spark, tmp_path):
    out = tmp_path / "grow"
    out.mkdir()
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), str(out / "a.parquet"))
    # merged schemas make the added file's column visible to inference
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert SRC.read_parquet(spark, str(out)).columns == ["id"]
        pq.write_table(
            pa.table({"id": pa.array([2], pa.int64()), "tag": ["new"]}), str(out / "b.parquet")
        )
        got = SRC.read_parquet(spark, str(out))
        assert got.columns == ["id", "tag"]
        assert sorted(tuple(r) for r in got.collect()) == [(1, None), (2, "new")]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"xy"], pa.binary())}), path)
    assert SRC.read_parquet(spark, path).dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        got = SRC.read_parquet(spark, path)
        assert got.dtypes == [("b", "string")]
        assert got.collect()[0]["b"] == "xy"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert SRC.read_parquet(spark, path).dtypes == [("b", "binary")]


def test_memo_evicts_least_recently_read_path(spark, jobs_in_group, tmp_path, monkeypatch):
    monkeypatch.setattr(SRC, "_PARQUET_SCHEMAS_MAX", 2)
    paths = {}
    for name in ("a", "b", "c"):
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({name: pa.array([1], pa.int64())}), paths[name])
    for name in ("a", "b", "a", "c"):  # b is now the least recently read
        SRC.read_parquet(spark, paths[name])
    assert len(SRC._PARQUET_SCHEMAS) == 2
    _, jobs = jobs_in_group("memo-recent", lambda: SRC.read_parquet(spark, paths["a"]))
    assert jobs == []
    got, jobs = jobs_in_group("memo-evicted", lambda: SRC.read_parquet(spark, paths["b"]))
    assert len(jobs) == 1
    assert got.columns == ["b"]
