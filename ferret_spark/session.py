"""SparkSession helper with scale-appropriate defaults."""

from __future__ import annotations

import logging
import os
import re
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession


_ZIP_CACHE: str | None = None

# archive path -> (st_mtime_ns, st_size) at its last directory read
_ZIP_STAMPS: dict[str, tuple[int, int]] = {}
# the interpreter's own method (``__wrapped__`` keeps a module reload from
# wrapping the hook in itself)
_ZIP_INVALIDATE = getattr(
    zipimport.zipimporter.invalidate_caches,
    "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _stat_checked_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its (mtime, size) changed since the last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _ZIP_INVALIDATE(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _ZIP_STAMPS.get(self.archive) == stamp:
        self._files = files  # siblings on one archive share one directory
        return
    _ZIP_INVALIDATE(self)
    _ZIP_STAMPS[self.archive] = stamp


_stat_checked_invalidate.__wrapped__ = _ZIP_INVALIDATE


def install_zip_cache_hook() -> None:
    """Stop reused Python workers from re-reading unchanged zip archives.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task so that newly shipped py-files become importable. Before Python
    3.13 that makes every zipimporter eagerly re-read its whole archive
    directory: the Spark core jar (5k entries) and pyspark.zip, once per
    sub-package importer, 150-215 ms per task on a 4-core host. New
    py-files arrive as new ``sys.path`` entries with fresh importers, so an
    archive whose mtime and size are unchanged has nothing new to show
    (``FileFinder`` trusts directory mtimes the same way). Idempotent; a
    no-op on 3.13+, where the call only drops the cache entry."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate


def package_zip(out_dir: str | None = None) -> str:
    """Zip the ferret_spark package for shipping to executors — the
    ``spark-submit --py-files`` artifact (north_rule deployment mode).
    Also used by get_spark via addPyFile so UDF closures resolve their
    module imports on executor Python workers in any deploy mode.

    Byte-deterministic (fixed timestamps, sorted entries) so repeated
    addPyFile calls — e.g. two sequential sessions in one bench process —
    never trip Spark's same-name-different-content check."""
    global _ZIP_CACHE
    if _ZIP_CACHE is not None and os.path.exists(_ZIP_CACHE):
        return _ZIP_CACHE
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = out_dir or tempfile.mkdtemp(prefix="ferret_spark_pyfiles_")
    zpath = os.path.join(out_dir, "ferret_spark.zip")
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.join("ferret_spark", os.path.relpath(full, pkg_dir))
                entries.append((rel, full))
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, full in sorted(entries):
            with open(full, "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(rel, date_time=(2000, 1, 1, 0, 0, 0))
            zf.writestr(info, data)
    _ZIP_CACHE = zpath
    return zpath


def _spark_default(key: str) -> str:
    """``key`` from the spark-defaults.conf that spark-submit reads
    (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``); '' when unset."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "conf"
    )
    value = ""
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            for line in f:
                m = re.match(r"([^\s=:]+)\s*[=:\s]\s*(.*)", line.strip())
                if m and m.group(1) == key:
                    value = m.group(2).strip()
    except OSError:
        pass
    return value


def _driver_java_options() -> str | None:
    """``spark.driver.extraJavaOptions`` for a new JVM: the user's own
    options with the direct-memory cap appended. None when this process
    already runs a JVM, whose options are fixed; one warning line then
    says so if that JVM was launched without the cap."""
    flag = "-XX:MaxDirectMemorySize=" + os.environ.get("FERRET_DIRECT_MEM", "24g")
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        user = _spark_default("spark.driver.extraJavaOptions")
        return f"{user} {flag}" if user else flag
    # spark-submit publishes the launch conf as JVM system properties
    launched = getattr(SparkContext._jvm, "java.lang.System").getProperty(
        "spark.driver.extraJavaOptions"
    )
    if flag not in (launched or "").split():
        logging.getLogger(__name__).warning(
            "JVM already running; %s not applied (restart Python to apply it)", flag
        )
    return None


def _builder_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "ferret_spark",
) -> SparkSession:
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("FERRET_SHUFFLE_PARTITIONS", str(min(int(cpus) * 2, 64)))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE partition coalescing collapses our small-but-CPU-heavy Python
        # stages (applyInPandas inversion/merge) to a handful of tasks —
        # measured 2-6x slowdowns at local[32] — so it's off by default;
        # re-enable for IO-heavy cluster runs with FERRET_AQE=1
        .config(
            "spark.sql.adaptive.enabled",
            "true" if os.environ.get("FERRET_AQE") == "1" else "false",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: pandas UDFs and mapInArrow are the hot path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("FERRET_DRIVER_MEM", "8g"))
        # install_zip_cache_hook saves each task on a REUSED worker
        # 150-215 ms of archive re-reads; a user default of false would
        # lose that without a sign
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
    )
    # Arrow batches live in the JVM's DIRECT pool (netty arenas), which
    # defaults to the heap size; local[32] runs 32 concurrent Arrow-heavy
    # tasks in ONE JVM, and long query-log runs fragment the arenas — 8g
    # OOMed a 128-query segment_batch_search leg at 2M docs. On a real
    # cluster each executor JVM brings its own pool, so this is purely a
    # single-JVM local-mode ceiling.
    java_opts = _driver_java_options()
    if java_opts is not None:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    return builder.getOrCreate()


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "ferret_spark",
) -> SparkSession:
    spark = _builder_spark(master, shuffle_partitions, app_name)
    # ship the package to executor Python workers (UDF closures reference
    # ferret_spark.* modules); same artifact spark-submit --py-files takes
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already shipped to this context
    return spark
