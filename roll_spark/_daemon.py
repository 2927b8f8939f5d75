"""Python worker daemon: ``pyspark.daemon`` without the per-task re-read
of every zip archive on the worker path.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython < 3.12 that makes each ``zipimporter`` re-read its
whole archive directory (pyspark.zip, py4j, the spark-core jar), a fixed
~0.2 s per task. The archives Spark puts on the worker path do not change
while a worker lives, so the re-read is pure overhead; CPython 3.12 makes
it lazy (gh-103200). ``session.get_spark`` selects this module through
``spark.python.daemon.module``.
"""

import sys
import zipimport


def _keep_zip_directory(self):
    """The archive directory read at import time stays valid."""


def install(version_info=sys.version_info) -> bool:
    """Make ``zipimporter.invalidate_caches`` a no-op below CPython 3.12;
    return whether it did."""
    if version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    return True


if __name__ == "__main__":
    # patch through the importable module so workers can check for it
    from roll_spark import _daemon
    from pyspark import daemon

    _daemon.install()
    daemon.manager()
