"""Python workers: the daemon that spares each task the re-read of
``pyspark.zip``, and the path that lets workers import the library."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from mongraph_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a rewrite lands as a new inode, as a reinstall would


def test_daemon_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Under the daemon's ``invalidate_caches`` an unchanged archive is not
    re-read; a rewritten one is, and its new module imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mg_zip_old": "X = 1\n"})
    reads = []
    reread = worker_daemon._reread

    def counted(importer):
        if importer.archive == archive:
            reads.append(archive)
        return reread(importer)

    monkeypatch.setattr(worker_daemon, "_reread", counted)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("mg_zip_old").X == 1
        importlib.invalidate_caches()
        assert reads == [archive]  # the first call reads and records the stamp
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [archive]  # unchanged: not re-read

        _write_zip(archive, {"mg_zip_old": "X = 1\n", "mg_zip_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive, archive]
        assert importlib.import_module("mg_zip_new").Y == 2
    finally:
        for name in ("mg_zip_old", "mg_zip_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


_WORKERS_RUN = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from mongraph_spark.sparkutil import get_spark

spark = get_spark("workers-from-any-dir", cpus=1)
plus_one = F.udf(lambda x: x + 1, "long")
print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
print(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").collect())
print(spark.sparkContext.getConf().get("spark.python.daemon.module"))
"""


def test_workers_import_the_library_from_any_directory(tmp_path):
    """Started from a directory that does not hold the package, with no
    ``PYTHONPATH``, the session's Python workers still start through the
    library daemon: a UDF and a ``createDataFrame`` over a list both run."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", _WORKERS_RUN.format(repo=repo)],
        cwd=tmp_path,
        env={**env, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.strip().splitlines()[-3:] == [
        "[1, 2, 3]",
        "[Row(k=1, v='a'), Row(k=2, v='b')]",
        "mongraph_spark.worker_daemon",
    ]


def test_daemon_imports_no_library_module():
    """Importing the daemon loads the package's ``__init__`` and nothing
    else of the library, so Python workers need only pyspark to start."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, mongraph_spark.worker_daemon; "
            "print(sorted(m for m in sys.modules if m.startswith('mongraph_spark')))",
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.split() == ["['mongraph_spark',", "'mongraph_spark.worker_daemon']"]
