"""The worker daemon's stat-guarded ``zipimporter.invalidate_caches``.

The guard itself is exercised in a subprocess so this process keeps stock
``zipimport``; the session test checks that the suite's own Python workers
run under it."""

import subprocess
import sys
from pathlib import Path

import pytest

from stellar_etl_spark import session

REPO = str(Path(__file__).resolve().parents[1])

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches is lazy on 3.13+"
)

_GUARD_SCRIPT = r"""
import importlib, sys, zipfile, zipimport
from stellar_etl_spark import pydaemon

arch = sys.argv[1]
with zipfile.ZipFile(arch, "w") as z:
    z.writestr("zmod_a.py", "A = 1\n")
sys.path.insert(0, arch)
import zmod_a

reads = []
_read_directory = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or _read_directory(p)

importlib.invalidate_caches()  # stock: re-reads on every call
assert reads.count(arch) == 1, reads
pydaemon.install()
pydaemon.install()  # idempotent
importlib.invalidate_caches()  # first guarded call records the archive's stat
assert reads.count(arch) == 2, reads
for _ in range(3):
    importlib.invalidate_caches()
print("unchanged", reads.count(arch))

with zipfile.ZipFile(arch, "a") as z:
    z.writestr("zmod_b.py", "B = 2\n")
importlib.invalidate_caches()
import zmod_b
print("rewritten", reads.count(arch), zmod_b.B)
"""


@pytest.fixture(scope="module")
def guard_run(tmp_path_factory):
    arch = tmp_path_factory.mktemp("zip") / "mods.zip"
    out = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, str(arch)],
        capture_output=True, text=True, timeout=60, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return dict(line.split(" ", 1) for line in out.stdout.splitlines())


def test_guard_skips_unchanged_archive(guard_run):
    assert guard_run["unchanged"] == "2"


def test_guard_rereads_rewritten_archive(guard_run):
    assert guard_run["rewritten"] == "3 2"


def test_session_workers_run_guarded_daemon(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def guarded(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: hasattr(zipimport.zipimporter.invalidate_caches, "stock"))

    assert spark.conf.get("spark.python.daemon.module") == "stellar_etl_spark.pydaemon"
    rows = spark.range(0, 8, 1, 4).select(guarded("id").alias("g")).collect()
    assert [r.g for r in rows] == [True] * 8


def test_worker_conf_only_for_local_masters_from_a_directory(monkeypatch):
    for master in ("local[4]", "local-cluster[2,1,1024]"):
        assert session._worker_conf(master) == {
            "spark.python.daemon.module": "stellar_etl_spark.pydaemon",
            "spark.executorEnv.PYTHONPATH": REPO,
        }
    assert session._worker_conf("spark://head:7077") == {}
    assert session._worker_conf("yarn") == {}
    monkeypatch.setattr(session, "_PKG_ROOT", REPO + "/pkg.zip")
    assert session._worker_conf("local[4]") == {}
