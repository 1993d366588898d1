"""The engine's Python worker daemon (shippinglanes_spark/pyworker.py):
its guarded zipimporter.invalidate_caches re-reads an archive only when
the file changed, and engine sessions start their workers from it."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

from shippinglanes_spark import pyworker


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def _import_from(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n", "zpkg/__init__.py": ""})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker._guarded_invalidate_caches,
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importer = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "zpkg"))
    assert _import_from(importer, "zmod_a").X == 1
    reads.clear()  # the constructor's own read

    importer.invalidate_caches()  # first call: no read recorded yet
    assert len(reads) == 1
    importer.invalidate_caches()
    sub.invalidate_caches()
    assert len(reads) == 1, "an unchanged archive was re-read"

    _write_zip(
        archive,
        {"zmod_a.py": "X = 1\n", "zpkg/__init__.py": "", "zmod_b.py": "Y = 2\n"},
    )
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importer.invalidate_caches()
    assert len(reads) == 2, "a rewritten archive was not re-read"
    assert _import_from(importer, "zmod_b").Y == 2
    # a second importer on the same archive shares the fresh directory
    # instead of reading it again or keeping its stale one
    sub.invalidate_caches()
    assert len(reads) == 2
    assert "zmod_b.py" in sub._files


def test_workers_run_the_guarded_invalidate_caches(spark):
    """The daemon conf must reach the workers, not only the driver."""
    got = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: zipimport.zipimporter.invalidate_caches.__qualname__)
        .collect()
    )
    assert got == [pyworker._guarded_invalidate_caches.__qualname__]
