"""Python worker daemon for local sessions: pyspark's own, minus the
per-task re-read of every zip on the workers' import path.

Each task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
which makes every cached ``zipimporter`` re-read its archive's central
directory (``pyspark.zip``: 1,328 entries). The forked workers inherit
the no-op; a zip added later gets a new importer, which reads it fresh.
"""

import zipimport

if __name__ == "__main__":
    if hasattr(zipimport.zipimporter, "invalidate_caches"):
        zipimport.zipimporter.invalidate_caches = lambda self: None
    from pyspark import daemon

    daemon.manager()
