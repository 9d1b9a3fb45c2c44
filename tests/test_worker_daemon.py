"""faiss_spark.worker_daemon: the Python worker daemon of get_spark sessions.

The daemon makes ``zipimporter.invalidate_caches`` re-read an archive only
when the archive changed, then runs pyspark's own daemon. These tests pin
the patched method in-process, on live workers, and from a driver whose
cwd does not hold the package."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from faiss_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_zip_rereads = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no patch",
)


@eager_zip_rereads
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "zd_pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_mod_a.py", "X = 1\n")
    # monkeypatch restores the class attribute and the reader afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_mod_a").X == 1
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()  # first call: reads and stamps

        reads.clear()
        files = importer._files
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
        assert importer._files is files

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zd_mod_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zd_mod_b").Y == 2

        # a deleted archive falls through to the stock re-read, as before
        os.remove(archive)
        importlib.invalidate_caches()
        assert importer._files == {}
    finally:
        for name in ("zd_mod_a", "zd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@eager_zip_rereads
def test_workers_run_the_patched_importer(spark):
    """Every worker of the session is forked from the daemon: its zip
    importers carry the patched method, and pyspark's per-task
    invalidate_caches leaves the pyspark.zip directory in place."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from faiss_spark import worker_daemon as wd

        patched = zipimport.zipimporter.invalidate_caches is wd.invalidate_caches
        importer = next(
            v for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and os.path.basename(v.archive) == "pyspark.zip"
        )
        files = importer._files
        importlib.invalidate_caches()
        kept = importer._files is files
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"patched": [patched], "kept": [kept]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(probe, "patched boolean, kept boolean")
        .collect()
    )
    assert len(rows) == 2
    assert all(r["patched"] and r["kept"] for r in rows)


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the repository, with the package only on
    its own sys.path, still gets workers that import faiss_spark: the
    daemon itself and every UDF body that imports from the package."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from faiss_spark.session import get_spark

        def body(batches):
            from faiss_spark.kernels import TopKAccumulator
            for b in batches:
                yield b

        spark = get_spark("cwd_probe", cpus=1)
        print("ROWS", spark.range(3).mapInArrow(body, "id bigint").count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 3" in out.stdout, out.stderr[-3000:]
