"""The Python worker daemon that ``get_spark`` installs on ``local*``
masters under CPython < 3.12 (``session.py``, "Python worker daemon";
``_daemon/spark_graft_daemon.py``): a task's
``importlib.invalidate_caches()`` re-reads a zip archive only when the
archive changed, so a reused worker keeps one directory of
``pyspark.zip`` instead of re-reading it 16 times per task."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from bigbookapi_etl_with_airflow_and_snowflake_spark._daemon import (
    spark_graft_daemon as shim,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

lazy_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip archives lazily (gh-103200); "
    "get_spark installs no daemon there",
)

_DAEMON_PROBE = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark

def worker_cpu_s():
    # CPU seconds of the Python processes below this driver (the JVM's
    # daemons and their workers), from /proc
    used, kids, exe = {{}}, {{}}, {{}}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{{e}}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{{e}}/cmdline") as fh:
                exe[int(e)] = fh.read().split("\0")[0]
        except OSError:
            continue
        used[int(e)] = sum(int(x) for x in f[11:15])
        kids.setdefault(int(f[1]), []).append(int(e))
    ticks, todo = 0, list(kids.get(os.getpid(), ()))
    while todo:
        p = todo.pop()
        ticks += used[p] if "python" in os.path.basename(exe[p]) else 0
        todo.extend(kids.get(p, ()))
    return ticks / os.sysconf("SC_CLK_TCK")

def probe():
    import os, sys, zipimport
    zips = [a for a in zipimport._zip_directory_cache if a.endswith("pyspark.zip")]
    return (
        os.getpid(),
        id(zipimport._zip_directory_cache[zips[0]]),
        any(m.split(".")[0] == "bigbookapi_etl_with_airflow_and_snowflake_spark"
            for m in sys.modules),
    )

spark = get_spark(master="local[2]", shuffle_partitions=2)
sc = spark.sparkContext
out = {{"rdd": [], "pandas": [], "foreach": []}}
for _ in range(3):
    out["rdd"] += sc.parallelize(range(4), 4).mapPartitions(lambda _: [probe()]).collect()
def one_probe(batches):
    import pandas as pd
    for _ in batches:
        pass
    yield pd.DataFrame([probe()], columns=["p", "i", "m"])
df = spark.range(0, 4, 1, 4)
for _ in range(3):
    out["pandas"] += [tuple(r) for r in df.mapInPandas(
        one_probe, "p long, i long, m boolean").collect()]
marks = {marks!r}
def mark(_):
    pid, cache, pkg = probe()
    open(os.path.join(marks, f"{{pid}}-{{cache}}-{{int(pkg)}}"), "w").close()
for _ in range(3):
    sc.parallelize(range(4), 4).foreachPartition(mark)
out["foreach"] = [tuple(int(x) for x in n.split("-")) for n in os.listdir(marks)]
noop = sc.parallelize(range(4), 4)
noop.foreachPartition(lambda _: None)
c0 = worker_cpu_s()
noop.foreachPartition(lambda _: None)
out["noop_worker_cpu_s"] = worker_cpu_s() - c0
print("PROBE " + json.dumps(out))
spark.stop()
"""


@lazy_zipimport
def test_daemon_workers_keep_one_pyspark_zip_directory(tmp_path):
    """Across 3 jobs of 4 tasks each on every Python worker path (an RDD
    ``mapPartitions``, a ``mapInPandas`` and an RDD ``foreachPartition``,
    the P3 upsert's path), each worker keeps the same
    ``pyspark.zip`` directory object (without the daemon, every task
    replaces it), workers never import the package (the driver's cwd is
    outside the repository and ``PYTHONPATH`` is stripped, as in
    ``test_commit_footers.py::test_footer_kernel_ships_by_value``), and a
    warm no-op ``foreachPartition`` of 4 tasks costs well under the
    ~0.85-1 worker CPU-s measured without the daemon."""
    marks = tmp_path / "marks"
    marks.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _DAEMON_PROBE.format(repo=REPO, marks=str(marks))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    out = json.loads(line[-1][len("PROBE "):])
    assert len(out["rdd"]) == len(out["pandas"]) == 12
    assert out["foreach"]
    for path in ("rdd", "pandas", "foreach"):
        ids: dict[int, set[int]] = {}
        for pid, cache, pkg in out[path]:
            assert not pkg, f"{path}: the package was imported on a worker"
            ids.setdefault(pid, set()).add(cache)
        assert all(len(v) == 1 for v in ids.values()), (path, ids)
    assert out["noop_worker_cpu_s"] <= 0.4, out["noop_worker_cpu_s"]


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write the archive beside ``path`` and move it into place, so a
    rewrite gets a new inode (as an installer replacing it would)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@lazy_zipimport
def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    """An unchanged archive is not re-read by ``invalidate_caches`` (the
    calls to ``zipimport._read_directory`` are counted); a rewritten one
    is re-read once, however many importers share it, and a module added
    to it imports."""
    cls = zipimport.zipimporter
    # restore CPython's method, the cache of path finders and sys.path
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"graft_zip_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("graft_zip_probe_a", "graft_zip_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("graft_zip_probe_a").X == 1
    shim.install()
    shim.install()  # idempotent: one wrapper
    assert not hasattr(cls.invalidate_caches._graft_original, "_graft_original")

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    before = zipimport._zip_directory_cache[archive]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert zipimport._zip_directory_cache[archive] is before

    _write_zip(
        archive, {"graft_zip_probe_a": "X = 1\n", "graft_zip_probe_b": "Y = 2\n"}
    )
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("graft_zip_probe_b").Y == 2
    importlib.invalidate_caches()
    assert reads == [archive]
    for name in ("graft_zip_probe_a", "graft_zip_probe_b"):
        sys.modules.pop(name, None)
