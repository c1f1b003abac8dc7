"""The worker daemon shim: drops cached zipimporters before each task,
and get_spark really routes Python workers through it."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pyarrow as pa

from gpt4ocontentextraction_spark.worker_daemon import without_zipimporters


def _zipimporters():
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_wrapper_drops_zipimporters_and_imports_still_work(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        for name in ("a", "b", "c"):
            zf.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        from zpkg import a, b

        assert (a.NAME, b.NAME) == ("a", "b")
        assert _zipimporters()

        calls = []
        result = without_zipimporters(lambda i, o: calls.append((i, o)) or 7)(
            "in", "out"
        )
        assert (result, calls) == (7, [("in", "out")])
        assert _zipimporters() == []

        from zpkg import c

        assert c.NAME == "c"
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        sys.path_importer_cache.pop(str(archive), None)


def test_get_spark_workers_run_through_the_shim(spark):
    def task_view(batches):
        # nested and self-contained, so cloudpickle ships it by value
        main = sys.modules["__main__"].__spec__
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"main": [main and main.name], "n_zip": [n_zip]}
        )
        for _ in batches:
            pass

    df = spark.range(1, numPartitions=1).mapInArrow(
        task_view, "main string, n_zip long"
    )
    df.collect()  # the first job forks the worker; the second reuses it
    assert [tuple(r) for r in df.collect()] == [
        ("gpt4ocontentextraction_spark.worker_daemon", 0)
    ]
