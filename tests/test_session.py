"""Session conf and what it installs on local masters: the Python worker
entry (``lrmr_spark/_worker/pyspark_graft_worker.py``), Unix-domain
sockets to the Python workers and no DataFrame call-site capture."""

import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import zipfile

import pytest
from pyspark.errors import ArithmeticException, QueryContextType
from pyspark.sql import functions as F

from lrmr_spark import session as S
from lrmr_spark.session import _WORKER_DIR, session_conf

WORKER = "pyspark_graft_worker"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNIX_SOCKETS = "spark.python.unix.domain.socket.enabled"
SOCKET_DIR = "spark.python.unix.domain.socket.dir"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
# Spark's own values of the settings session_conf changes on local masters
SPARK_DEFAULTS = {
    "spark.python.worker.module": "pyspark.worker",
    UNIX_SOCKETS: "false",
    DEBUGGING: "true",
}


def _probe_query(spark):
    """Rows of a small two-partition ``mapInPandas`` whose tasks report
    whether the worker entry is loaded in their process."""

    def square(batches):
        import sys

        for pdf in batches:
            yield pdf.assign(sq=pdf["id"] * pdf["id"], entry=WORKER in sys.modules)

    df = spark.range(0, 50, numPartitions=2).mapInPandas(
        square, "id long, sq long, entry boolean"
    )
    return sorted(tuple(r) for r in df.collect())


def _apply_query(spark):
    """Rows of a small grouped ``applyInPandas``."""

    def total(pdf):
        return pdf.groupby("k", as_index=False)["id"].sum()

    df = spark.range(0, 50, numPartitions=2).withColumn("k", F.col("id") % 3)
    return sorted(
        tuple(r) for r in df.groupBy("k").applyInPandas(total, "k long, id long").collect()
    )


def _session_report(extra_conf):
    """In a fresh process: a session over ``extra_conf``, its probe rows,
    a collected ``Pipeline``, whether that left call-site capture off
    and IPython unimported, and whether the session's socket directory
    outlives ``stop()``."""
    from pyspark.errors.utils import is_debugging_enabled

    from lrmr_spark import Pipeline
    from lrmr_spark.session import get_spark

    spark = get_spark("session-report", master="local[1]", extra_conf=extra_conf)
    sock_dir = spark.sparkContext.getConf().get(SOCKET_DIR)
    pipeline = (
        Pipeline.parallelize(spark, [(i % 3,) for i in range(9)], "v long")
        .group_by_key("v")
        .reduce({"cnt": F.count(F.lit(1))})
    )
    report = {
        "map": _probe_query(spark),
        "apply": _apply_query(spark),
        "pipeline": sorted(tuple(r) for r in pipeline.run_and_collect().rows),
        "debugging": is_debugging_enabled(),
        "ipython": "IPython" in sys.modules,
        "sock_dir": sock_dir,
    }
    spark.stop()
    report["sock_dir_left"] = sock_dir is not None and os.path.exists(sock_dir)
    return report


def _report_in_subprocess(extra_conf, env=None):
    script = (
        "import json, sys\n"
        f"sys.path[:0] = [{ROOT!r}, {os.path.join(ROOT, 'tests')!r}]\n"
        "from test_session import _session_report\n"
        f"print(json.dumps(_session_report({extra_conf!r})))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=600, check=True, env={**os.environ, **(env or {})},
    ).stdout.strip().splitlines()[-1]
    return {k: [tuple(r) for r in v] if isinstance(v, list) else v
            for k, v in json.loads(out).items()}


@pytest.fixture(scope="module")
def spark_default_report():
    """``_session_report`` of a session that keeps Spark's own worker,
    TCP sockets and call-site capture."""
    return _report_in_subprocess(SPARK_DEFAULTS)


def test_python_tasks_run_through_worker_entry(spark, spark_default_report):
    got = _probe_query(spark)
    assert [e for *_, e in got] == [True] * 50
    # the same query on a session that keeps Spark's default worker
    default = spark_default_report["map"]
    assert [e for *_, e in default] == [False] * 50
    assert [r[:2] for r in got] == [r[:2] for r in default]


def test_deep_temp_paths_start_and_match_spark_defaults(tmp_path, spark_default_report):
    # a socket under a TMPDIR or java.io.tmpdir this deep would overflow
    # sun_path; the engine's socket directory must not sit there
    deep = tmp_path.joinpath(*["d" * 30] * 3)
    deep.mkdir(parents=True)
    assert len(str(deep)) >= 90
    got = _report_in_subprocess(
        {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={deep}"},
        env={"TMPDIR": str(deep)},
    )
    default = spark_default_report
    assert [e for *_, e in got["map"]] == [True] * 50
    assert [r[:2] for r in got["map"]] == [r[:2] for r in default["map"]]
    assert got["apply"] == default["apply"] and len(got["apply"]) == 3
    assert got["pipeline"] == default["pipeline"] == [(0, 3), (1, 3), (2, 3)]
    # building and collecting a Pipeline captured no call site
    assert (got["debugging"], got["ipython"]) == (False, False)
    assert default["debugging"] is True
    assert default["sock_dir"] is None
    assert got["sock_dir"].startswith(os.path.join("/tmp", S._SOCKET_DIR_PREFIX))
    assert got["sock_dir_left"] is False


def test_division_by_zero_keeps_its_error_class(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    # the DataFrame query context survives; only its call site changes
    ctx = err.value.getQueryContext()
    assert [c.contextType() for c in ctx] == [QueryContextType.DataFrame]


def _zip_module(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("graft_probe_mod.py", source)
    return str(path)


def _import_probe(spark):
    """Import ``graft_probe_mod`` afresh inside one Python task and
    report its attributes, where it came from, whether the worker entry
    counts that archive as part of the Spark installation, and whether
    it counts every other archive on the task's path (pyspark, py4j,
    spark-core) as such."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            sys.modules.pop("graft_probe_mod", None)
            import graft_probe_mod as m

            immutable = sys.modules[WORKER]._immutable
            archive = m.__spec__.loader.archive
            spark_archives = {
                f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter) and "graft_probe" not in f.archive
            }
            yield pd.DataFrame({
                "attrs": [",".join(sorted(a for a in vars(m) if a.isupper()))],
                "archive": [os.path.basename(archive)],
                "immutable": [immutable(archive)],
                "spark_immutable": [
                    bool(spark_archives) and all(map(immutable, spark_archives))
                ],
            })

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "attrs string, archive string, immutable boolean, spark_immutable boolean"
    ).collect()[0]
    return tuple(row)


def test_add_py_file_after_a_python_task_still_imports(spark, tmp_path):
    sc = spark.sparkContext
    # a Python task first, so a worker already holds its import caches
    assert spark.range(4, numPartitions=1).mapInPandas(
        lambda b: b, "id long"
    ).count() == 4

    sc.addPyFile(_zip_module(tmp_path / "graft_probe_a.zip", "VALUE = 1\n"))
    assert _import_probe(spark) == ("VALUE", "graft_probe_a.zip", False, True)

    # a second archive of the same module name: the later include sits
    # first on the task's sys.path, so a fresh import sees its new name
    sc.addPyFile(
        _zip_module(tmp_path / "graft_probe_b.zip", "VALUE = 1\nEXTRA = 2\n")
    )
    assert _import_probe(spark) == ("EXTRA,VALUE", "graft_probe_b.zip", False, True)


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_masters_use_worker_entry(master):
    conf = session_conf(master)
    assert conf["spark.master"] == master
    assert conf["spark.python.worker.module"] == WORKER
    assert conf["spark.executorEnv.PYTHONPATH"] == _WORKER_DIR
    assert os.path.isfile(os.path.join(_WORKER_DIR, WORKER + ".py"))


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_masters_use_unix_sockets_and_no_call_sites(master):
    conf = session_conf(master)
    assert conf[UNIX_SOCKETS] == "true"
    assert conf[DEBUGGING] == "false"
    sock_dir = conf[SOCKET_DIR]
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
    assert len(sock_dir) + S._SOCKET_NAME_LEN <= S._SOCKET_PATH_MAX


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_other_masters_keep_default_worker(master):
    conf = session_conf(master, extra_conf={"spark.executorEnv.PYTHONPATH": "extra/libs"})
    assert "spark.python.worker.module" not in conf
    assert conf["spark.executorEnv.PYTHONPATH"] == "extra/libs"
    assert not {UNIX_SOCKETS, SOCKET_DIR, DEBUGGING} & set(conf)


def test_caller_conf_overrides_round_trip_settings():
    conf = session_conf("local[2]", extra_conf={UNIX_SOCKETS: "false", DEBUGGING: "true"})
    assert (conf[UNIX_SOCKETS], conf[DEBUGGING]) == ("false", "true")
    assert SOCKET_DIR not in conf
    conf = session_conf("local[2]", extra_conf={SOCKET_DIR: "/srv/sockets"})
    assert (conf[UNIX_SOCKETS], conf[SOCKET_DIR]) == ("true", "/srv/sockets")


def test_socket_dir_leaves_a_temp_dir_too_deep_for_sun_path(tmp_path, monkeypatch):
    deep = tmp_path.joinpath(*["d" * 30] * 3)
    deep.mkdir(parents=True)
    monkeypatch.setattr(tempfile, "tempdir", str(deep))
    monkeypatch.setattr(S, "_socket_dir", None)
    sock_dir = S._python_socket_dir()
    try:
        assert os.path.dirname(sock_dir) == "/tmp"
        assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
        assert S._python_socket_dir() == sock_dir  # one per process
    finally:
        shutil.rmtree(sock_dir)


def test_caller_pythonpath_is_merged():
    conf = session_conf(
        "local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "extra/a:extra/b"}
    )
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["extra/a:extra/b", _WORKER_DIR]
    )
    assert conf["spark.python.worker.module"] == WORKER
