"""Python worker daemon: ``pyspark.daemon`` without per-task zip re-reads.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on CPython 3.11 that makes each cached ``zipimporter``
re-read its archive's central directory: ``pyspark.zip`` once per
imported pyspark sub-package and the spark-core jar twice, 0.1-0.25 s
per task on a 4-core host.  The archives already on a worker's path do
not change while it lives, and an archive added later (a pyFiles zip) is
a new path entry that is still read once, so the daemon makes the
re-read a no-op before it forks its workers.
"""

import zipimport

from pyspark import daemon

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
