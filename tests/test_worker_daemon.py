"""The Python worker daemon (worker_daemon.py): a zip archive's directory is
re-read only when the archive changed."""

import importlib.util
import zipfile
import zipimport

from mongo_analyser_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"stamp_mod_a": 1})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    try:
        importer = zipimport.zipimporter(archive)
        assert reads == [archive]
        worker_daemon.install()
        importer.invalidate_caches()
        importer.invalidate_caches()
        assert reads == [archive]  # stamped at install, unchanged since

        # a rewritten archive (a new module, so a new size) is re-read once
        _write_zip(archive, {"stamp_mod_a": 2, "stamp_mod_b": 3})
        importer.invalidate_caches()
        assert reads == [archive, archive]
        importer.invalidate_caches()
        assert reads == [archive, archive]
        spec = importer.find_spec("stamp_mod_b")
        assert spec is not None
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.VALUE == 3
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_workers_do_not_reread_pyspark_zip_per_task(spark):
    """A task's importlib.invalidate_caches() (what every task's setup
    calls) reads no zip directory in a worker of this session."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"reads": [len(reads)], "importers": [importers]}
        )

    [row] = (
        spark.range(0, 10, 1, 1)
        .mapInArrow(probe, "reads long, importers long")
        .collect()
    )
    assert row.importers > 0
    assert row.reads == 0
