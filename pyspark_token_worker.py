"""Python worker entry for the engine's local Spark sessions.

``session.get_spark`` names this module in ``spark.python.worker.module``;
``pyspark.daemon`` imports it and calls ``main`` in every forked worker.
The name must start with ``pyspark``: the daemon ignores any other value.

At the start of every task, pyspark's worker calls
``importlib.invalidate_caches()`` so that files shipped with
``--py-files`` become importable. Under CPython 3.11 that makes every
cached ``zipimport.zipimporter`` re-parse its whole archive directory:
``pyspark.zip``, the py4j zip and the spark-core jar are all on the
worker's ``sys.path``. That re-read costs more than a small
``mapInArrow`` batch, on every task of every job.

Inside the worker, ``main`` turns ``zipimporter.invalidate_caches`` into a
no-op, so a zip's directory is read once per worker process, not once per
task. The other path finders are still invalidated, so a ``.py`` file
shipped with ``--py-files`` stays importable, and a zip path the worker
has not seen yet gets a new importer, which reads its directory as usual.
What the worker no longer notices is an archive rewritten in place under
a path it has already imported from. On a CPython whose zip importers
invalidate lazily the no-op only skips a cheap cache drop.
"""

import zipimport


def _keep_zip_directory(self):
    """Replaces ``zipimporter.invalidate_caches`` inside the worker."""


if __name__ == "__main__":
    # Without the daemon (spark.python.use.daemon=false) Spark starts each
    # worker as `python -m <worker module>`: run pyspark's own entry.
    import runpy

    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    # Imported by the daemon before it forks, so workers inherit it.
    from pyspark.worker import main as _pyspark_main

    def main(infile, outfile):
        zipimport.zipimporter.invalidate_caches = _keep_zip_directory
        _pyspark_main(infile, outfile)
