"""Session conf and the Python worker entry it installs on local masters
(``lrmr_spark/_worker/pyspark_graft_worker.py``)."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

from lrmr_spark.session import _WORKER_DIR, session_conf

WORKER = "pyspark_graft_worker"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_python_tasks_run_through_worker_entry(spark):
    got = _probe_query(spark)
    assert [e for *_, e in got] == [True] * 50
    # the same query on a session that keeps Spark's default worker
    script = (
        "import json, sys\n"
        f"sys.path[:0] = [{ROOT!r}, {os.path.join(ROOT, 'tests')!r}]\n"
        "from lrmr_spark.session import get_spark\n"
        "from test_session import _probe_query\n"
        "spark = get_spark('default-worker', master='local[1]',\n"
        "    extra_conf={'spark.python.worker.module': 'pyspark.worker'})\n"
        "print(json.dumps(_probe_query(spark)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=600, check=True,
    ).stdout.strip().splitlines()[-1]
    default = [tuple(r) for r in json.loads(out)]
    assert [e for *_, e in default] == [False] * 50
    assert [r[:2] for r in got] == [r[:2] for r in default]


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


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_other_masters_keep_default_worker(master):
    conf = session_conf(master, extra_conf={"spark.executorEnv.PYTHONPATH": "extra/libs"})
    assert "spark.python.worker.module" not in conf
    assert conf["spark.executorEnv.PYTHONPATH"] == "extra/libs"


def test_caller_pythonpath_is_merged():
    conf = session_conf(
        "local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "extra/a:extra/b"}
    )
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["extra/a:extra/b", _WORKER_DIR]
    )
    assert conf["spark.python.worker.module"] == WORKER
