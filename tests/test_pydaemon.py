"""The worker daemon's zip-directory hook (``iresearch_spark.pydaemon``):
an archive is re-read on ``invalidate_caches`` only when it changed, and
``get_spark`` sessions run their Python workers under the hook."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from iresearch_spark import pydaemon


def _write_zip(path: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pydaemon_probe_mod.py", f"VALUE = {value}\n")


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    importer = zipimport.zipimporter(archive)
    reads = []
    orig = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    importer.invalidate_caches()  # first call reads and records the stamp
    importer.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()  # a second importer
    assert reads == [archive]

    # a rewritten archive (new size and mtime) is re-read, and its new
    # module content imports
    _write_zip(archive, 22)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    assert reads == [archive, archive]
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    sys.modules.pop("pydaemon_probe_mod", None)
    try:
        assert importlib.import_module("pydaemon_probe_mod").VALUE == 22
    finally:
        sys.modules.pop("pydaemon_probe_mod", None)


def test_daemon_import_footprint_is_stock():
    """``peak_rss_mb`` counts the daemon: importing it must not pull in
    pandas or pyarrow."""
    code = (
        "import sys; import iresearch_spark.pydaemon; "
        "print('pandas' in sys.modules, 'pyarrow' in sys.modules)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": root}, check=True,
    )
    assert out.stdout.split() == ["False", "False"]


def test_spark_workers_run_under_the_hook(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "iresearch_spark.pydaemon"

    def probe(batches):
        import zipimport

        hook = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"hook": [hook.__code__.co_filename]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(probe, "hook string").collect()
    assert row["hook"].endswith(os.path.join("iresearch_spark", "pydaemon.py"))
