"""The Python worker zip cache (``rasterframes_spark/_pyworker.py``):
``importlib.invalidate_caches`` re-reads a zip on ``sys.path`` only when
it changed, and every Spark Python task runs with that fix in place."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

import rasterframes_spark  # noqa: F401 -- installs the fix


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["rf_zip_m1"])
    monkeypatch.syspath_prepend(archive)
    for name in ("rf_zip_m1", "rf_zip_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("rf_zip_m1").NAME == "rf_zip_m1"

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read(a))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if sys.version_info < (3, 12):
        assert reads.count(archive) == 0

    _write_zip(archive, ["rf_zip_m1", "rf_zip_m2"])  # a new size
    importlib.invalidate_caches()
    assert importlib.import_module("rf_zip_m2").NAME == "rf_zip_m2"


def test_invalidate_caches_on_a_missing_zip_gives_no_files(tmp_path):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, ["rf_zip_gone"])
    imp = zipimport.zipimporter(archive)
    assert imp._files
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the fix installs nothing on Python >= 3.12")
def test_every_worker_task_starts_with_the_fix(spark):
    """A pandas UDF and a plain RDD map that imports nothing from the
    package both run in workers forked from the package's daemon: the
    fix was installed before the fork, by another process."""
    from pyspark.sql.functions import pandas_udf

    def fix_state():  # nested, so it is pickled by value
        import os
        import zipimport

        marker = getattr(zipimport.zipimporter.invalidate_caches,
                         "__rf_zipcache__", None)
        return [marker, os.getpid()]

    @pandas_udf("array<long>")
    def state(ids: pd.Series) -> pd.Series:
        return pd.Series([fix_state()] * len(ids))

    udf_rows = [r[0] for r in spark.range(0, 8, 1, 4).select(state("id"))
                .collect()]
    map_rows = (spark.sparkContext.parallelize(range(4), 4)
                .map(lambda _: fix_state()).collect())
    assert len(udf_rows) == 8 and len(map_rows) == 4
    for marker, pid in udf_rows + map_rows:
        assert marker is not None and marker != pid


def test_a_task_runs_where_only_the_driver_finds_the_package(tmp_path):
    """A driver that imports the package only through its own
    ``sys.path`` (a script run from outside the checkout) still runs a
    plain Python task: the worker daemon imports the package, so the
    workers must find it too."""
    repo = str(Path(__file__).resolve().parents[1])
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from rasterframes_spark import create_rf_spark_session
        spark = create_rf_spark_session(master="local[2]")
        rdd = spark.sparkContext.parallelize(range(4), 2)
        print(rdd.map(lambda x: x + 1).collect())
        spark.stop()
    """))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(repo))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-1] == "[1, 2, 3, 4]"
