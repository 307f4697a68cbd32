"""The Python-worker daemon's zipimport patch, without Spark and inside
the session's workers, plus the workers' import path."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F
import pytest

from video_stream_processing_spark import worker_daemon
from video_stream_processing_spark.session import PACKAGE_ROOT


@pytest.fixture
def patched(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("wd_first", "wd_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_rewritten_archive_is_reread(patched, zip_on_path):
    assert importlib.import_module("wd_first").VALUE == 1
    importlib.invalidate_caches()  # the patch now holds the archive's stamp
    _write_zip(zip_on_path, {"wd_first": "VALUE = 1\n", "wd_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("wd_second").VALUE == 2


@pytest.mark.skipif(not worker_daemon.PATCHABLE, reason="zipimporter re-reads lazily")
@pytest.mark.parametrize("use_patch,want_reads", [(True, 1), (False, 2)])
def test_unchanged_archive_is_read_at_most_once(request, monkeypatch, zip_on_path, use_patch, want_reads):
    if use_patch:
        request.getfixturevalue("patched")
    importlib.import_module("wd_first")
    stock_read = zipimport._read_directory
    reads = []

    def counting_read(archive):
        if archive == zip_on_path:
            reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # the stock importer re-reads on every call; the patched one only
    # the first time it sees the archive
    assert len(reads) == want_reads
    assert importlib.import_module("wd_first").VALUE == 1


def test_install_matches_interpreter(monkeypatch):
    # restore the stock method after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._stock_invalidate_caches)
    assert worker_daemon.install() == worker_daemon.PATCHABLE
    patched = zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_if_changed
    assert patched == worker_daemon.PATCHABLE


def test_session_workers_run_patched_daemon(spark):
    @F.pandas_udf("string")
    def invalidate_name(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__qualname__)

    got = spark.range(1).select(invalidate_name("id").alias("n")).first()["n"]
    if worker_daemon.PATCHABLE:
        assert got == worker_daemon.invalidate_if_changed.__qualname__
    else:
        assert got == "zipimporter.invalidate_caches"


def test_workers_import_engine_from_any_working_directory(tmp_path):
    # The driver finds the package through sys.path; the workers get no
    # PYTHONPATH from the environment and start in a directory that does
    # not hold the package, so only the session's conf lets them import it.
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        import pandas as pd
        import pyspark.sql.functions as F
        from video_stream_processing_spark.session import get_spark

        spark = get_spark("worker-path", master="local[1]", shuffle_partitions=1)

        @F.pandas_udf("string")
        def engine_file(s: pd.Series) -> pd.Series:
            import video_stream_processing_spark as vsp
            return s.map(lambda _: vsp.__file__)

        print("ENGINE", spark.range(1).select(engine_file("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    want = os.path.join(PACKAGE_ROOT, "video_stream_processing_spark", "__init__.py")
    assert f"ENGINE {want}" in proc.stdout
