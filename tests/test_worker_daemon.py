"""The worker daemon shim: drops cached zipimporters before each task,
get_spark really routes Python workers through it, and the daemon
imports the package from PYTHONPATH whatever the driver's cwd holds."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa

from gpt4ocontentextraction_spark.worker_daemon import without_zipimporters

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_daemon_ignores_a_same_named_package_in_the_cwd(tmp_path):
    """The daemon starts with `python -m`; a decoy package without
    worker_daemon.py in the driver's cwd must not shadow the real one."""
    cwd = tmp_path / "cwd"
    (cwd / "gpt4ocontentextraction_spark").mkdir(parents=True)
    (cwd / "gpt4ocontentextraction_spark" / "__init__.py").write_text("")
    script = tmp_path / "identity.py"
    script.write_text(
        "from gpt4ocontentextraction_spark.session import get_spark\n"
        "s = get_spark('decoy_cwd', cores=1)\n"
        "df = s.range(100).mapInArrow(lambda it: it, 'id long')\n"
        "print('rows', df.count())\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-1] == "rows 100"
