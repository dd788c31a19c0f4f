"""The keyed zip-directory cache the package installs on import: an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is, and a zip shipped mid-session still imports inside a
Python task of a worker that runs the keyed cache."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa

import balrog_spark  # noqa: F401  (installs the keyed cache)

KEYED = "install.<locals>.invalidate_caches"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(
        tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == KEYED
    a, b = (f"balrog_zip_{n}_{uuid.uuid4().hex[:8]}" for n in "ab")
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {a: "VALUE = 1\n"})
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read(p))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(a).VALUE == 1
        importlib.invalidate_caches()  # the first keyed read
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {a: "VALUE = 1\n", b: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(b).VALUE == 2
    finally:
        for m in (a, b):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)


def test_zip_added_mid_session_imports_in_a_python_task(spark, tmp_path):
    def warm(batches):
        importlib.import_module("balrog_spark")
        yield from batches

    # the workers import the package, as the first engine UDF would
    spark.range(8, numPartitions=4).mapInArrow(warm, "id long").collect()

    name = f"balrog_pyfile_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        # read before this task imports anything
        keyed = zipimport.zipimporter.invalidate_caches.__qualname__ == KEYED
        mod = importlib.import_module(name)
        for bt in batches:
            yield pa.RecordBatch.from_pydict({
                "v": [mod.VALUE] * bt.num_rows,
                "keyed": [keyed] * bt.num_rows})

    rows = (spark.range(8, numPartitions=4)
            .mapInArrow(probe, "v long, keyed boolean").collect())
    assert len(rows) == 8
    # every task imported the new zip, in a worker that ran the keyed
    # cache from the task's start
    assert {(r.v, r.keyed) for r in rows} == {(42, True)}
