"""pyspark's Python daemon, without zipimport's per-task archive re-read.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). In CPython 3.11 and 3.12 that
makes every ``zipimporter`` re-read its whole archive directory: the worker's
``sys.path`` holds ``pyspark.zip``, the py4j zip and the spark-core jar, about
150 ms of CPU per task in all. Skipping the re-read is safe. Spark never
rewrites an archive in place (adding a file name twice is refused), and an
archive added later (``--py-files``, ``addPyFile``) is a new ``sys.path``
entry, whose new ``zipimporter`` reads its directory on first lookup.
Directory finders (the spark-files dir) are still refreshed every task.
Forked workers inherit the patch. Started by ``session.get_spark``.
"""

if __name__ == "__main__":
    import zipimport

    from pyspark.daemon import manager

    def _keep_directory(self) -> None:
        """Keep the archive directory read when this importer was made."""

    zipimport.zipimporter.invalidate_caches = _keep_directory
    manager()
