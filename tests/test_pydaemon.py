"""The worker daemon's zip-directory memo (``pydaemon``), without Spark:
an unchanged archive is not re-read, a rewritten one is."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

from rust_ruuvitag_etl_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _counting_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_read_once_and_a_rewrite_is_seen(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    assert importer.find_spec("a") is not None
    reads = _counting_reads(monkeypatch)

    # the first call has no stamp to compare, so it re-reads; the next
    # two find the archive unchanged
    for _ in range(3):
        pydaemon.invalidate_unless_unchanged(importer)
    assert reads == [archive]

    before = os.stat(archive)
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    after = os.stat(archive)
    assert (after.st_mtime_ns, after.st_size) != (before.st_mtime_ns, before.st_size)
    pydaemon.invalidate_unless_unchanged(importer)
    assert reads == [archive, archive]
    assert importer.find_spec("b") is not None


def test_unreadable_archive_takes_the_original_path(tmp_path):
    """A missing archive empties the importer, as the original does, and
    drops its stamp: the archive restored with its old mtime and size
    is read again."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    pydaemon.invalidate_unless_unchanged(importer)
    st = os.stat(archive)
    os.remove(archive)
    pydaemon.invalidate_unless_unchanged(importer)
    assert importer.find_spec("a") is None

    _write_zip(archive, {"a": "X = 1\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size == st.st_size
    pydaemon.invalidate_unless_unchanged(importer)
    assert importer.find_spec("a") is not None


def test_import_starts_nothing_and_patches_nothing():
    """Only running the module as ``__main__`` installs the memo and
    starts a daemon; importing it leaves ``zipimport`` as it was."""
    out = subprocess.run(
        [sys.executable, "-c", (
            "import zipimport, rust_ruuvitag_etl_spark.pydaemon as d, sys\n"
            "assert zipimport.zipimporter.invalidate_caches is d._reread\n"
            "assert 'pyspark.daemon' not in sys.modules\n"
            "print('ok')"
        )],
        cwd=REPO, capture_output=True, text=True, timeout=60,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
