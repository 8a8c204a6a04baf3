"""SparkSession factory with the engine's tuned defaults.

Tuned for the sandbox (single 32-core JVM) but the settings are the
ones we would ship to a 1000-executor cluster: AQE on (runtime
coalesce + skew-join splitting), Arrow on for every pandas UDF
boundary, shuffle partitions sized to cores (cluster: 2-3x total
cores), small broadcast threshold left at default so dimension
tables broadcast.

Python worker processes also get one fix outside any conf: on CPython
< 3.12, importing the package on a worker makes zip-archive import
cache invalidation lazy (:func:`lazy_zip_invalidation`). Every Python
task starts with ``importlib.invalidate_caches()``, and there 3.11's
zipimporter re-reads its archive's whole central directory — once per
subpackage imported from ``pyspark.zip``, ~200 ms per task.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession


def cpu_scaled(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition for a CPU-bound ``mapInPandas`` stage (signature
    building, media decode) so task count scales with BOTH the input
    and the cluster — never an absolute constant (a hardcoded
    ``repartition(8)`` funnels a 100 TB stage through 8 tasks).

    Target = max(input partitions, ``sc.defaultParallelism``): on a
    1000-executor cluster defaultParallelism is the total core count,
    and an input that is already wider than the cluster keeps its
    width. When the input is already wide enough and no balancing
    columns are requested, the frame is returned untouched (no
    shuffle at all).
    """
    sc = df.sparkSession.sparkContext
    n_in = df.rdd.getNumPartitions()
    target = max(n_in, sc.defaultParallelism)
    if cols:
        return df.repartition(target, *cols)
    if n_in >= target:
        return df
    return df.repartition(target)


def lazy_zip_invalidation() -> bool:
    """Make zipimporter cache invalidation lazy, as CPython 3.12 does
    (gh-103200): an importer re-reads its archive's directory only when
    the archive's ``(st_mtime_ns, st_size)`` stamp differs from the one
    it last read, kept on the importer. Other finders keep their normal
    invalidation. Returns whether the lazy form is in place; a no-op on
    3.12+, where it is the interpreter's own behaviour.

    Called from the package ``__init__`` on Python workers only: PySpark
    runs ``importlib.invalidate_caches()`` at the start of every task
    (``worker_util.setup_spark_files``), and 3.11 answers that with one
    full central-directory read per zipimporter — one per subpackage
    imported from ``pyspark.zip`` or py4j's zip, 16 reads per task on
    PySpark 4.1. Drop this once 3.12 is the minimum."""
    if sys.version_info >= (3, 12):
        return False
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    if getattr(eager, "lazy", False):
        return True

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            eager(self)
            self._read_stamp = stamp

    invalidate_caches.lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def get_spark(
    app_name: str = "lucene-solr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
