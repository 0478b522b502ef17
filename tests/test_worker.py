"""The Spark Python worker import-cache fix (spark_xml_spark/_worker.py).

Every worker call ends its set-up in ``importlib.invalidate_caches()``; on
CPython < 3.12 each zipimporter re-reads its archive's directory there. The
fix re-reads only archives that changed on disk.
"""

import os
import subprocess
import sys
import textwrap

import pytest

needs_eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport re-reads lazily from CPython 3.12; the fix is inert",
)

_ZIP_SCRIPT = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    from spark_xml_spark import _worker

    archive = sys.argv[1]

    def write(body):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod.py", body)

    def reads_during_invalidate():
        real = zipimport._read_directory
        calls = []

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return len(calls)

    write("VALUE = 1\\n")
    sys.path.insert(0, archive)
    import zmod
    assert zmod.VALUE == 1
    assert reads_during_invalidate() == 1  # stock zipimport: every call
    _worker.reuse_unchanged_zip_directories()
    _worker.reuse_unchanged_zip_directories()  # idempotent
    importlib.invalidate_caches()  # first call records the archive's stamp
    assert reads_during_invalidate() == 0
    assert reads_during_invalidate() == 0
    write("VALUE = 'rewritten'\\n")
    assert reads_during_invalidate() == 1
    importlib.reload(zmod)
    assert zmod.VALUE == "rewritten", zmod.VALUE
    assert reads_during_invalidate() == 0
    print("ok")
    """
)


@needs_eager_zip_reread
def test_unchanged_archive_not_reread_and_rewrite_seen(tmp_path):
    # a subprocess, so this process's zipimport stays unpatched
    script = tmp_path / "probe.py"
    script.write_text(_ZIP_SCRIPT)
    import spark_xml_spark

    root = os.path.dirname(spark_xml_spark.__path__[0])
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "mods.zip")],
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "PYTHONPATH": root},
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_inert_in_driver():
    import zipimport

    import spark_xml_spark  # noqa: F401

    assert not getattr(
        zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False
    )


@needs_eager_zip_reread
def test_reused_worker_does_not_reread_pyspark_zip(spark):
    """Count zipimport._read_directory calls in a task's second
    invalidate_caches(); stock CPython 3.11 makes one per zipimporter
    (16 for pyspark.zip in a reused worker)."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import spark_xml_spark  # noqa: F401

        importlib.invalidate_caches()
        real = zipimport._read_directory
        calls = []

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "reads": [len(calls)],
                "importers": [len(importers)],
                "pyspark_zip": [
                    any(f.archive.endswith("pyspark.zip") for f in importers)
                ],
            }
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "reads long, importers long, pyspark_zip boolean")
        .collect()
    )
    assert row.pyspark_zip and row.importers > 0
    assert row.reads == 0
