"""Python-worker daemon for sessions built by `session.get_spark`.

PySpark's worker calls `importlib.invalidate_caches()` once per task
(`pyspark.worker_util.setup_spark_files`). A `zipimport.zipimporter`
answers that by re-reading its archive's whole directory, and the
worker path holds 16 of them (pyspark.zip and one per imported
subpackage, py4j's zip, the spark-core jar): 97-159 ms per task on a
4 vCPU host, more than most kernels' own work. Spark's archives do not
change under a live worker, so before the daemon forks any worker this
module turns every zip importer into one whose `invalidate_caches`
keeps the directory it already read. A zip added later (`addPyFile`)
still gets a new importer, which reads its directory when created.
Then PySpark's own daemon runs unchanged.

Spark starts this as `python -m etly_spark.worker_daemon <worker module>`
(`spark.python.daemon.module`), so the package root must be on the
workers' PYTHONPATH; `get_spark` puts it there.
"""

from __future__ import annotations

import sys
import zipimport


class FrozenZipImporter(zipimport.zipimporter):
    """A zipimporter whose `invalidate_caches` keeps the read directory."""

    def invalidate_caches(self):
        pass


def freeze_zip_importers() -> None:
    for imp in sys.path_importer_cache.values():
        if type(imp) is zipimport.zipimporter:
            # keeps identity: loaded modules hold it as their __loader__
            imp.__class__ = FrozenZipImporter
    sys.path_hooks[:] = [
        FrozenZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]


if __name__ == "__main__":
    # pyspark.daemon reads the worker module from sys.argv at import
    from pyspark import daemon

    freeze_zip_importers()
    daemon.manager()
