"""SparkSession factory.

Local test config tuned for local[N]; on a real cluster only the adaptive /
shuffle-partition settings matter and are safe defaults at scale (AQE
coalesces and re-plans at runtime).
"""

from __future__ import annotations

import os
import sys
import zipimport
from contextlib import contextmanager

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "smartpy_arc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults follow the 100 TB design guidance: AQE on (runtime partition
    coalescing + skew-join splitting), Arrow on for every pandas boundary,
    UTC session timezone so timestamps compare bit-for-bit with external
    oracles, and shuffle partitions sized to the parallelism actually
    available rather than the stock 200.

    The generated-code cache holds 1000 classes instead of the stock 100.
    ``CodeGenerator`` keeps compiled classes in a Guava cache of
    ``spark.sql.codegen.cache.maxEntries`` split into 4 segments, each
    evicting on its own, and a class's segment follows a hash that
    includes the identity hash of its class loader, so it changes from one
    JVM to the next.  One pass over the ``curate_iterate`` benchmark
    queries compiles about 70 classes: at 25 per segment most JVMs
    overflow a segment and then recompile up to about 20 classes on
    every warm pass (4 vCPUs, Spark 4.1.2); at 250 per segment the
    working set stays compiled.  It is a static conf, read once per JVM
    when the first class compiles, so it applies only when this call
    creates the session.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Python workers must be able to import this package (pandas-UDF
    # closures reference it by module name).  Must happen before the JVM
    # starts so the worker env inherits it.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (e.g. the events table) has no native
        # Spark type; read as long and convert via nanos_ts_cols in scan().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # COUNT/MIN/MAX over plain parquet answer from footer statistics
        # instead of scanning row groups (no filters involved → safe)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # NOTE on spark.sql.files.minPartitionNum: measured at sf0.1 it
        # HURTS (13.0s -> 20.1s headline total): the floor slices every
        # small file into `cpus` splits, paying per-task overhead on KB
        # dims and streaming micro-batches, while parquet row-group
        # granularity (testdata writes one group per file) means the big
        # scans still land on one task.  Split sizing is left to Spark's
        # bytes-per-core default; heavy operators that need more scan
        # parallelism repartition explicitly behind a small-input guard
        # (see contamination.py).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jclass(spark: SparkSession, name: str) -> JavaClass:
    """A direct py4j handle on the JVM class ``name``.  Resolving
    ``spark._jvm.a.b.C`` costs one py4j round trip, and one failed class
    lookup, per package segment; this handle costs none until it is
    called."""
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set session confs for the body, then restore each prior value (or
    unset a key that had none)."""
    conf = spark.conf
    prior = {k: conf.get(k, None) for k in settings}
    for k, v in settings.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


_PYFILE_SESSIONS: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers of a session
    we didn't create (e.g. the driver harness's own SparkSession started
    from a different cwd): zip the package and ``addPyFile`` it once per
    session.  No-op when already registered."""
    try:
        sid = spark.sparkContext.applicationId
    except Exception:
        sid = str(id(spark))
    if sid in _PYFILE_SESSIONS:
        return
    import glob
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    files = sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True))
    digest = hashlib.md5(
        "".join(f"{f}:{os.path.getmtime(f)}" for f in files).encode()
    ).hexdigest()[:10]
    zpath = os.path.join(tempfile.gettempdir(), f"smartpy_arc_spark_{digest}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for f in files:
                z.write(f, os.path.relpath(f, parent))
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added under this name in this JVM
    _PYFILE_SESSIONS.add(sid)


# Archive path -> (st_ino, st_size, st_mtime_ns) of the archive when the
# gate last let its directory be read.
_ZIP_STAMPS: dict[str, tuple[int, int, int]] = {}


def install_zip_reread_gate() -> None:
    """Let ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed on disk.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``).  On Python 3.11 and 3.12 that
    makes every zipimporter re-read its whole archive directory at once,
    and a reused worker holds a couple of dozen of them (pyspark.zip, the
    spark-core jar, py4j, this package's ``addPyFile`` zip).  Those reads
    were most of a Python task's cost: ``geom_split`` at sf0.01 spends
    0.94 worker CPU-s per call without the gate and 0.27 with it (4 vCPUs,
    Python 3.11.7, Spark 4.1.2).  Behind the gate an archive whose (inode,
    size, mtime_ns) is the one seen at its last read keeps its cached
    directory; a changed or vanished archive is re-read at once, as
    before.  Python 3.13 only marks the cache stale, so there the gate is
    not installed.

    Runs once per process on package import, so it covers every task of a
    reused worker after the first one that imports the package.
    Idempotent.
    """
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stamp_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        cache = zipimport._zip_directory_cache
        unchanged = stamp is not None and _ZIP_STAMPS.get(self.archive) == stamp
        if unchanged and self.archive in cache:
            self._files = cache[self.archive]
            return
        # Stamped before the read: an archive rewritten during it carries a
        # newer stamp than the one kept, so the next call reads it again.
        reread(self)
        if stamp is not None and cache.get(self.archive) is self._files:
            _ZIP_STAMPS[self.archive] = stamp
        else:
            _ZIP_STAMPS.pop(self.archive, None)

    invalidate_caches.stamp_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
