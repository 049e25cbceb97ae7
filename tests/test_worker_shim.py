"""The Python worker entry ``_worker/pyspark_cis_worker.py``: a zip on the
worker's path is re-read by ``importlib.invalidate_caches()`` only when it
changed on disk, and ``session.get_spark`` starts every Python worker from
it (daemon or not), unless ``extra_conf`` names another worker module."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from columbiaimagesearch_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    importlib.import_module("columbiaimagesearch_spark._worker.pyspark_cis_worker")
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"shimprobe_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("shimprobe_a").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # the importer was built before any stamped read: the first call reads
    importer.invalidate_caches()
    assert reads == [archive]
    files = importer._files
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files
    assert reads == [archive]

    _write_zip(archive, {"shimprobe_a.py": "X = 1\n", "shimprobe_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    assert importer._files is not files
    assert importlib.import_module("shimprobe_b").Y == 2
    for name in ("shimprobe_a", "shimprobe_b"):
        monkeypatch.delitem(sys.modules, name)


def _task_reporter():
    """A ``mapInArrow`` function (pickled by value: it is local) whose
    rows say whether the task ran under the shim's zipimporter patch, with
    the shim imported as a module, and whether the ``pyspark.zip``
    importers kept their directory across ``importlib.invalidate_caches()``."""

    def report(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        zips = [
            i
            for i in s.path_importer_cache.values()
            if isinstance(i, zi.zipimporter) and i.archive.endswith("pyspark.zip")
        ]
        before = [i._files for i in zips]
        il.invalidate_caches()
        same = bool(zips) and all(i._files is f for i, f in zip(zips, before))
        patched = zi.zipimporter.invalidate_caches.__name__ == "_invalidate_caches"
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict(
                {
                    "shim": [patched] * n,
                    "module": ["pyspark_cis_worker" in s.modules] * n,
                    "same": [same] * n,
                }
            )

    return report


REPORT_SCHEMA = "shim boolean, module boolean, same boolean"


def test_session_tasks_run_in_the_shim(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.worker.module")
        == session.WORKER_MODULE
    )
    rows = spark.range(40).repartition(4).mapInArrow(_task_reporter(), REPORT_SCHEMA)
    assert set(rows.distinct().collect()) == {(True, True, True)}


# three contexts on one JVM: perfbench's spark.executorEnv.PYTHONPATH
# override with the daemon, no daemon, and the shim turned off
SESSIONS = """
for name, conf in [
    ("override", {{"spark.executorEnv.PYTHONPATH": {repo!r}}}),
    ("no_daemon", {{"spark.python.use.daemon": "false"}}),
    ("off", {{"spark.python.worker.module": "pyspark.worker"}}),
]:
    run(name, conf)
"""
# a JVM launched before get_spark lacks the module's directory on its
# PYTHONPATH: the session keeps pyspark.worker, and its tasks still run
FOREIGN_JVM = """
from pyspark.sql import SparkSession
SparkSession.builder.master("local[1]").getOrCreate().stop()
run("foreign_jvm", {{}})
"""
SUBPROCESS = """
import json, sys
sys.path[:0] = [{repo!r}, {tests!r}]
from columbiaimagesearch_spark.session import get_spark
from test_worker_shim import REPORT_SCHEMA, _task_reporter

out = {{}}
def run(name, conf):
    spark = get_spark(app_name=name, cpus=1, shuffle_partitions=1, extra_conf=conf)
    rows = spark.range(4).coalesce(1).mapInArrow(_task_reporter(), REPORT_SCHEMA)
    module = spark.sparkContext.getConf().get("spark.python.worker.module")
    out[name] = [module, [list(r) for r in rows.distinct().collect()]]
    spark.stop()
{body}
print(json.dumps(out))
"""


@pytest.mark.parametrize(
    "body, expected",
    [
        (
            SESSIONS,
            {
                "override": ["pyspark_cis_worker", [[True, True, True]]],
                # `python -m pyspark_cis_worker` runs the module as __main__
                "no_daemon": ["pyspark_cis_worker", [[True, False, True]]],
                "off": ["pyspark.worker", [[False, False, False]]],
            },
        ),
        (FOREIGN_JVM, {"foreign_jvm": ["pyspark.worker", [[False, False, False]]]}),
    ],
    ids=["sessions", "foreign_jvm"],
)
def test_worker_module_in_a_fresh_jvm(tmp_path, body, expected):
    tests = os.path.join(REPO, "tests")
    script = SUBPROCESS.format(repo=REPO, tests=tests, body=body.format(repo=REPO))
    # get_spark in this process (the shared session) put the module's
    # directory on PYTHONPATH; the child starts without it
    inherited = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    pythonpath = os.pathsep.join(p for p in inherited if p and p != session.WORKER_DIR)
    env = {
        **os.environ,
        "PYTHONPATH": pythonpath,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TMPDIR": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == expected
