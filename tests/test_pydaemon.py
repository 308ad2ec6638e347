"""The engine's Python worker daemon (squirreling_spark/pydaemon.py): a zip
importer re-reads its archive only when the archive's stat signature
changed, and engine sessions fork their Python workers from it."""

import importlib
import zipfile
import zipimport

from pyspark.sql.types import StringType

from squirreling_spark.engine import execute_sql
from squirreling_spark.functions.registry import FunctionSpec
from squirreling_spark.pydaemon import _invalidate_if_changed


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_archive_is_reread_only_when_changed(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    _invalidate_if_changed(importer)  # no signature yet: reads and signs
    files = importer._files
    _invalidate_if_changed(importer)
    _invalidate_if_changed(importer)
    assert importer._files is files

    # a rewrite with one more module changes the size: the next call
    # re-reads, and the new module imports through the importer
    _write_zip(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n"})
    _invalidate_if_changed(importer)
    assert importer._files is not files
    spec = importer.find_spec("beta")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2

    # a failed stat re-reads as the stock importer does
    archive.unlink()
    _invalidate_if_changed(importer)
    assert importer._files == {}


def test_session_workers_fork_from_the_engine_daemon(spark):
    def report(_):
        """In a Python worker: the daemon module it forked from, and
        whether every zip importer kept its directory across two cache
        invalidations. Nested, so it is pickled by value (the worker
        cannot import this test module)."""
        import importlib
        import sys
        import zipimport

        def directories():
            return {
                path: finder._files
                for path, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)
            }

        before = directories()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        after = directories()
        kept = bool(before) and all(after.get(p) is f for p, f in before.items())
        return f"{sys.modules['__main__'].__spec__.name}|{kept}"

    res = execute_sql(
        spark,
        "SELECT REPORT(name) AS r FROM t",
        tables={"t": [{"name": "a"}]},
        functions={"REPORT": FunctionSpec(apply=report, return_type=StringType())},
    )
    assert [r["r"] for r in res.collect()] == ["squirreling_spark.pydaemon|True"]
