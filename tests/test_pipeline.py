"""Pipeline façade golden tests — the reference test suite's fixtures
(FIXTURES.md F2-F8) re-expressed:

- F2 kv counts      (/root/reference/test/group_by_test.go:112-134)
- F3 map/flatmap ×8 (/root/reference/test/map_test.go:31-32,
                     /root/reference/test/flatmap_test.go:21-31)
- F4 sort+concat    (/root/reference/test/sort_test.go:24-33)
- F5 known keys     (/root/reference/test/group_by_test.go:75-89)
- F6 broadcast      (/root/reference/test/broadcast_test.go:29)
- F7 co-partition   (/root/reference/test/custom_partitioner_test.go:25-33)
- F8 failure/abort  (/root/reference/test/failing_job.go,
                     /root/reference/test/context_cancel.go)
"""

import datetime
import decimal
import gc
import os
import time

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.ml.linalg import Vectors, VectorUDT
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from lrmr_spark import Pipeline, get_job, sources


def test_f2_kv_counts(spark):
    res = (
        Pipeline.parallelize(
            spark,
            [("foo", "goo"), ("foo", "hoo"), ("bar", "baz")],
            schema="key string, value string",
        )
        .group_by_key("key")
        .reduce({"cnt": F.count(F.lit(1))})
        .run_and_collect()
    )
    assert {(r["key"], r["cnt"]) for r in res.rows} == {("foo", 2), ("bar", 1)}


def test_f2_repartition_single_key(spark):
    # repartition(10) with one key: empty partitions must not affect counts
    res = (
        Pipeline.parallelize(spark, [("foo", i) for i in range(5)], "key string, v long")
        .repartition(10, "key")
        .group_by_key("key")
        .reduce({"cnt": F.count(F.lit(1))})
        .run_and_collect()
    )
    assert [(r["key"], r["cnt"]) for r in res.rows] == [("foo", 5)]


def test_f3_map_chain_times_8(spark):
    p = Pipeline.parallelize(spark, [(i,) for i in range(1, 1001)], "v long")
    for _ in range(3):
        p = p.map(cols={"v": F.col("v") * 2})
    rows = p.run_and_collect().rows
    assert len(rows) == 1000
    assert max(r["v"] for r in rows) == 8000


def test_f3_flatmap_chain(spark):
    p = Pipeline.parallelize(spark, [(i,) for i in range(1, 1001)], "value long")
    for _ in range(3):
        p = p.flat_map(explode=F.array(F.col("value") * 2, F.col("value") * 2))
    rows = p.run_and_collect().rows
    assert len(rows) == 8000
    assert max(r["value"] for r in rows) == 8000


def test_f3_map_general_path(spark):
    # arbitrary per-batch logic through mapInPandas
    p = Pipeline.parallelize(spark, [(i,) for i in range(1, 101)], "v long")
    res = p.map(fn=lambda pdf: pdf.assign(v=pdf.v * 3)).run_and_collect()
    assert sorted(r["v"] for r in res.rows) == [i * 3 for i in range(1, 101)]


def test_f4_sort_concat_fold(spark):
    data = [("foo", v) for v in (9, 8, 7, 6)] + [("bar", v) for v in (5, 4, 3, 2)] + [
        ("baz", v) for v in (9, 5, 1, 3)
    ]
    res = (
        Pipeline.parallelize(spark, data, "key string, value int")
        .group_by_key("key")
        .reduce(
            {
                "concat": F.array_join(
                    F.transform(F.array_sort(F.collect_list("value")), lambda x: x.cast("string")),
                    "",
                )
            }
        )
        .run_and_collect()
    )
    got = {r["key"]: r["concat"] for r in res.rows}
    assert got == {"foo": "6789", "bar": "2345", "baz": "1359"}


def test_f4_sort_within_partitions(spark):
    # per-partition sort: each partition individually ordered (reference
    # Sort semantics — no global merge)
    p = (
        Pipeline.parallelize(spark, [(i % 7, i) for i in range(100)], "k int, v int")
        .repartition(4, "k")
        .sort("v")
    )
    part_rows = p.df.withColumn("pid", F.spark_partition_id()).collect()
    by_pid = {}
    for r in part_rows:
        by_pid.setdefault(r["pid"], []).append(r["v"])
    for vs in by_pid.values():
        assert vs == sorted(vs)


def test_f5_known_keys_drop(spark):
    data = [("a", 1), ("a", 2), ("b", 3), ("zz", 4), ("c", 5)]
    res = (
        Pipeline.parallelize(spark, data, "key string, v int")
        .group_by_known_keys(["a", "b"], "key")
        .reduce({"cnt": F.count(F.lit(1))})
        .run_and_collect()
    )
    got = {r["key"]: r["cnt"] for r in res.rows}
    assert got == {"a": 2, "b": 1}  # 'zz' and 'c' silently dropped


def test_f6_broadcast(spark):
    p = Pipeline.parallelize(spark, [("dummy",)], "value string").broadcast(
        "ThroughContext", "bar"
    )
    suffix = p.get_broadcast("ThroughContext")
    res = p.map(cols={"value": F.concat(F.col("value"), F.lit(suffix))}).run_and_collect()
    assert res.rows[0]["value"] == "dummybar"


def test_f7_co_partitioning(spark):
    data = [("key1-1", 1), ("key1-2", 2), ("key2-1", 3), ("key2-2", 4)]
    p = Pipeline.parallelize(spark, data, "key string, v int").partitioned_by(
        2, F.substring("key", 1, 4)
    )
    rows = p.df.withColumn("pid", F.spark_partition_id()).collect()
    pid_of = {r["key"]: r["pid"] for r in rows}
    assert pid_of["key1-1"] == pid_of["key1-2"]
    assert pid_of["key2-1"] == pid_of["key2-2"]


def test_f7_arbitrary_fn_partitioner_golden(spark):
    # the reference's opaque-Partitioner routing golden
    # (/root/reference/test/custom_partitioner.go:25-39): every row
    # lands EXACTLY in the partition its routing function names —
    # not merely co-located by hash
    data = [("key1-1", 1), ("key1-2", 2), ("key2-1", 3), ("key2-2", 4)]

    def route(row):
        # 'key1-*' -> partition 1, 'key2-*' -> partition 0
        return 1 if row["key"].startswith("key1") else 0

    p = Pipeline.parallelize(spark, data, "key string, v int").partitioned_by_fn(
        2, route
    )
    rows = p.df.withColumn("pid", F.spark_partition_id()).collect()
    assert {r["key"]: r["pid"] for r in rows} == {
        "key1-1": 1,
        "key1-2": 1,
        "key2-1": 0,
        "key2-2": 0,
    }
    # schema survives the RDD round trip
    assert [f.name for f in p.df.schema.fields] == ["key", "v"]


def test_f8_failing_stage_propagates(spark):
    def boom(pdf):
        raise RuntimeError("injected failure")

    p = Pipeline.parallelize(spark, [(1,)], "v long").map(fn=boom)
    with pytest.raises(Exception, match="injected failure"):
        p.run_and_collect()


def test_f8_background_job_lifecycle(spark):
    p = Pipeline.parallelize(spark, [(i,) for i in range(10)], "v long").group_by_key(
        "v"
    ).reduce({"cnt": F.count(F.lit(1))})
    h = p.run_in_background(job_id="bg-test-1")
    assert get_job("bg-test-1") is h
    res = h.wait(30).result()
    assert len(res.rows) == 10
    assert h.status == "succeeded"


def test_f8_background_job_failure(spark):
    def boom(pdf):
        raise RuntimeError("bg boom")

    h = (
        Pipeline.parallelize(spark, [(1,)], "v long")
        .map(fn=boom)
        .run_in_background(job_id="bg-test-fail")
    )
    h.wait(60)
    assert h.status == "failed"
    with pytest.raises(RuntimeError):
        h.result()


def test_f8_background_job_abort(spark):
    # cooperative cancel mid-run (mirror of the reference's detached
    # abort — /root/reference/test/abort_detached_job_test.go)
    def slow(pdf):
        time.sleep(20)
        return pdf

    h = (
        Pipeline.parallelize(spark, [(i,) for i in range(64)], "v long")
        .repartition(32)
        .map(fn=slow)
        .run_in_background(job_id="bg-abort")
    )
    time.sleep(2)  # let tasks start
    h.abort()
    h.wait(60)
    assert h.status == "aborted"
    with pytest.raises(RuntimeError, match="aborted"):
        h.result()


def test_f8_concurrent_jobs(spark):
    # three identical pipelines on one session, all must return goldens
    handles = [
        Pipeline.parallelize(spark, [("foo", 1), ("foo", 2), ("bar", 3)], "key string, v int")
        .group_by_key("key")
        .reduce({"cnt": F.count(F.lit(1))})
        .run_in_background(job_id=f"bg-conc-{i}")
        for i in range(3)
    ]
    for h in handles:
        rows = h.wait(60).result().rows
        assert {(r["key"], r["cnt"]) for r in rows} == {("foo", 2), ("bar", 1)}


def test_f8_cross_process_job_attach(spark, tmp_path, monkeypatch):
    # the reference's "any client can attach by job ID via etcd"
    # (/root/reference/job/manager_distributed.go:25-33): a SECOND
    # python process (no Spark, no shared memory) attaches through the
    # checkpoint file and reads status + metrics
    import subprocess
    import sys as _sys

    import lrmr_spark.job as J

    jobdir = str(tmp_path / "jobs")
    monkeypatch.setattr(J, "_JOB_DIR", jobdir)
    h = (
        Pipeline.parallelize(spark, [(i,) for i in range(10)], "v long")
        .group_by_key("v")
        .reduce({"cnt": F.count(F.lit(1))})
        .run_in_background(job_id="bg-xproc")
    )
    h.wait(60)
    assert h.status == "succeeded"
    code = (
        "import os, sys\n"
        f"os.environ['LRMR_SPARK_JOB_DIR'] = {jobdir!r}\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from lrmr_spark.job import get_job, list_jobs\n"
        "h = get_job('bg-xproc')\n"
        "print(type(h).__name__, h.wait(5).status, 'bg-xproc' in list_jobs())\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True, timeout=120,
        env={**os.environ, "LRMR_SPARK_JOB_DIR": jobdir},
    )
    assert out.returncode == 0, out.stderr
    assert "DetachedJobView succeeded True" in out.stdout


def _shuffle_data_files(spark) -> set[str]:
    """Paths of the shuffle data files under the block manager's dirs."""
    dbm = spark.sparkContext._jsc.sc().env().blockManager().diskBlockManager()
    return {
        os.path.join(d, f)
        for root in dbm.localDirsString()
        for d, _, files in os.walk(root)
        for f in files
        if f.startswith("shuffle_") and f.endswith(".data")
    }


def test_f8_finished_background_jobs_free_their_shuffles(spark):
    # the registry keeps every handle for the process's lifetime, so a
    # handle that still held its frame would pin the job's shuffle files
    def collect_garbage():
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    collect_garbage()
    before = _shuffle_data_files(spark)
    handles = [
        Pipeline.parallelize(spark, [(i % 4,) for i in range(12)], "v long")
        .group_by_key("v")
        .reduce({"cnt": F.count(F.lit(1))})
        .run_in_background(job_id=f"bg-shuffle-{i}")
        for i in range(5)
    ]
    for h in handles:
        assert sorted(tuple(r) for r in h.wait(60).result().rows) == [
            (0, 3), (1, 3), (2, 3), (3, 3)
        ]
    assert len(_shuffle_data_files(spark) - before) >= len(handles)
    deadline = time.monotonic() + 60
    while (left := _shuffle_data_files(spark) - before) and time.monotonic() < deadline:
        collect_garbage()
        time.sleep(0.5)
    assert not left
    assert [h.status for h in handles] == ["succeeded"] * len(handles)


def test_metrics_accumulator_in_udf(spark):
    # the reference's ctx.AddMetric-inside-user-code pattern
    # (/root/reference/test/input_csv_decoder.go:44 'Files' metric):
    # a Python accumulator captured by the mapInPandas closure
    acc = spark.sparkContext.accumulator(0)

    def fn(pdf):
        acc.add(len(pdf))
        return pdf

    res = (
        Pipeline.parallelize(spark, [(i,) for i in range(100)], "v long")
        .map(fn=fn)
        .run_and_collect()
    )
    assert len(res.rows) == 100
    assert acc.value == 100


def test_metrics_observe(spark):
    res = (
        Pipeline.parallelize(spark, [(i,) for i in range(50)], "v long")
        .with_metric("events")
        .filter(F.col("v") >= 25)
        .with_metric("passed")
        .run_and_collect()
    )
    assert res.metrics["events"] == 50
    assert res.metrics["passed"] == 25


# ----------------------------------------------------------------------
# in-memory source: Arrow local relation, createDataFrame semantics
# ----------------------------------------------------------------------
def test_parallelize_map_runs_no_spark_job(spark, jobs_in_group):
    p = Pipeline.parallelize(spark, [(i,) for i in range(1, 1001)], "v long")
    for _ in range(3):
        p = p.map(cols={"v": F.col("v") * 2})
    res, jobs = jobs_in_group("parallelize-no-job", p.run_and_collect)
    assert jobs == []
    assert sorted(r["v"] for r in res.rows) == [8 * i for i in range(1, 1001)]


def test_parallelize_keeps_row_verifier(spark):
    # a bare pa.array(..., type=int64) would truncate 1.5 to 1
    with pytest.raises(PySparkTypeError):
        sources.parallelize(spark, [(1.5,)], "v long")
    with pytest.raises(PySparkValueError):
        sources.parallelize(spark, [(None,)], "v long not null")


_PARITY_CASES = {
    "atomic": (
        [
            (1, 2, 1.5, "a", True, datetime.date(2020, 1, 2),
             datetime.datetime(2020, 1, 2, 3, 4, 5, 6), decimal.Decimal("1.25"), None),
            (-7, 2**40, -0.0, "", False, datetime.date(1969, 12, 31),
             datetime.datetime(1999, 12, 31, 23, 59, 59), decimal.Decimal("-3.10"), "x"),
        ],
        "i int, l long, d double, s string, b boolean, dt date, ts timestamp,"
        " dec decimal(10,2), n string",
    ),
    "nulls": ([(None, None, None)], "i int, ts timestamp, dec decimal(10,2)"),
    "decimal_rounding": (
        [(decimal.Decimal("1.235"),), (decimal.Decimal("-1.235"),), (decimal.Decimal("1.2"),)],
        "x decimal(10,2)",
    ),
    "decimal_wide": (
        [(decimal.Decimal("12345678901234567890.1234567890123456785"),)],
        "x decimal(38,18)",
    ),
    "empty": ([], "a int, b string"),
    "tuples_inferred": ([(1, "x"), (2, None)], None),
    "tuples_named": ([(1, "x"), (2, None)], ["k", "v"]),
    "rows_inferred": ([Row(a=1, b="x"), Row(a=2, b="y")], None),
    "rows_named": ([Row(a=1, b="x")], ["p", "q"]),
    "dicts_inferred": ([{"a": 1, "b": "x"}, {"b": "y", "a": 2}], None),
    "dicts_named": ([{"a": 1, "b": "x"}], ["a", "b"]),
    "dicts_renamed": ([{"a": 1, "b": "x"}, {"b": "y", "a": 2}], ["p", "q"]),
    "dicts_renamed_swapped": ([{"a": 1, "b": "x"}], ["b", "a"]),
    "dicts_struct": ([{"a": 1, "b": "x"}], "b string, a long"),
    "nested": (
        [([1, None], {"a": 1}, (1, "z")), (None, None, None)],
        "a array<int>, m map<string,int>, st struct<x:int,y:string>",
    ),
    "atomic_schema": ([1, 2, None], "long"),
    # the JVM rounds decimals at every depth; nested ones take the row path
    "nested_decimal": (
        [([decimal.Decimal("1.235")], {"k": decimal.Decimal("-1.235")},
          (decimal.Decimal("2.345"),))],
        "a array<decimal(10,2)>, m map<string,decimal(10,2)>, st struct<x:decimal(10,2)>",
    ),
    # a type Arrow cannot carry takes createDataFrame's row path
    "udt_row_path": (
        [(Vectors.dense([1.0, 2.0]),), (None,)],
        StructType([StructField("v", VectorUDT())]),
    ),
}


@pytest.mark.parametrize("case", sorted(_PARITY_CASES))
def test_parallelize_matches_create_dataframe(spark, case):
    data, schema = _PARITY_CASES[case]
    want = spark.createDataFrame(data, schema)
    got = sources.parallelize(spark, data, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_parallelize_hands_whole_inputs_to_create_dataframe(spark):
    import pandas as pd
    import pyarrow as pa

    want = [Row(a=1, b="x"), Row(a=2, b="y")]
    pdf = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert sources.parallelize(spark, pdf, None).collect() == want
    table = pa.table({"a": [1, 2], "b": ["x", "y"]})
    assert sources.parallelize(spark, table, None).collect() == want
    rdd = spark.sparkContext.parallelize([(1, "x"), (2, "y")])
    assert sources.parallelize(spark, rdd, ["a", "b"]).collect() == want


@pytest.mark.parametrize("op", ["sort", "partitioned_by"])
def test_parallelize_results_independent_of_shuffle_partitions(spark, op):
    data = [(f"k{i % 5}", (i * 37) % 101) for i in range(200)]

    def run():
        p = Pipeline.parallelize(spark, data, "key string, v int")
        p = p.sort("v") if op == "sort" else p.partitioned_by(3, F.col("key"))
        return p.df.withColumn("pid", F.spark_partition_id()).collect()

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        results = []
        for n in ("2", "8"):
            spark.conf.set(key, n)
            results.append(run())
    finally:
        spark.conf.set(key, old)
    assert results[0] == results[1]
    assert sorted((r["key"], r["v"]) for r in results[0]) == sorted(data)
