"""Python worker daemon for engine sessions: ``pyspark.daemon`` whose zip
importers re-read an archive only when that archive changed.

Before each task, ``pyspark.worker`` calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). On Python < 3.12 every
``zipimporter`` in ``sys.path_importer_cache`` then re-reads its archive's
whole central directory at once. A worker holds 16 of them: 12 for package
paths inside ``pyspark.zip`` (1328 entries, ~11 ms a read), 2 for the py4j
zip and 2 for ``spark-core_2.13-4.1.2.jar`` (5359 entries, ~46 ms a read),
which Spark puts on the worker ``PYTHONPATH`` though it holds no ``.py``
file. That cost 0.11-0.21 s of every Python task on a 4-core host, whatever
its row count, and neither worker reuse nor unix-domain sockets avoid it.

Here an importer re-reads only when its archive's ``(st_mtime_ns,
st_size)`` differs from the signature stored at its last read, the rule
``tables.source`` uses for parquet files. A failed stat, or an importer
with no signature yet (a new ``addPyFile`` zip, or one first created after
a change), re-reads as before, so a changed archive is still seen fresh.

Run as ``python -m squirreling_spark.pydaemon <worker module>``
(``spark.python.daemon.module``, set by ``session.get_spark``).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """Re-read ``importer``'s archive unless it kept the stat signature
    recorded at the importer's last read."""
    try:
        st = os.stat(importer.archive)
        signature = (st.st_mtime_ns, st.st_size)
    except OSError:
        signature = None
    if signature is None or getattr(importer, "_signature", None) != signature:
        _reread(importer)
        importer._signature = signature


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # sign every importer once, so forked workers inherit the signatures
    importlib.invalidate_caches()
    daemon.manager()
