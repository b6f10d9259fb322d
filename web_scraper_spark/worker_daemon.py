"""Spark's Python worker daemon, with the Arrow worker's imports preloaded.

``get_spark`` sets this module as ``spark.python.daemon.module``, so the
executor starts it as ``python -m web_scraper_spark.worker_daemon
pyspark.worker`` and it forks every Python worker. Its imports are what
an Arrow UDF task needs (pandas, pyarrow, pyspark's worker and pandas
serializers, the extraction operator): each worker shares their pages
copy-on-write instead of importing them itself.

Before serving, it also drops the ``zipimporter``s those imports left in
``sys.path_importer_cache``. Each task's ``setup_spark_files`` ends in
``importlib.invalidate_caches()``, which on Python 3.11 makes every
cached ``zipimporter`` re-read the central directory of its archive;
pyspark.zip has 1,328 entries and a worker held 14-16 importers into it.
A later import from a zip recreates its importer from
``zipimport._zip_directory_cache``, so no import breaks.
"""

import gc
import sys
import zipimport

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.pandas_compat  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.worker  # noqa: F401

import web_scraper_spark.operators.extract  # noqa: F401


def main() -> None:
    # imported here: at import, pyspark.daemon reads the worker module
    # name from sys.argv
    from pyspark import daemon

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    # the preloaded objects are never freed: keeping them out of the
    # collector keeps it from writing to (and so copying) their pages
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
