"""SparkSession factory tuned for this engine.

Local mode is the test target (local[32], single JVM); the configs below are
chosen so the same code scales to a multi-executor cluster: AQE handles
runtime coalescing + skew joins, shuffle partitions sized to cores locally
(a cluster deployment would raise this to ~2-3x total cores), Arrow enabled
for every Pandas-UDF boundary.

Importing this module inside a Python worker also makes the worker's
per-task import-cache reset cheap. Before every task PySpark's worker calls
``importlib.invalidate_caches()``; on CPython < 3.13 that makes every
``zipimporter`` on the worker's path re-read its whole archive directory
(pyspark.zip's package importers and the spark-core jar: 200-420 ms per
task on a 4-core box). ``_stamped_zip_invalidation`` keeps an importer's
directory while its archive's ``(st_mtime_ns, st_size)`` is unchanged and
re-reads exactly as before otherwise, as CPython 3.13's lazy
``zipimporter.invalidate_caches`` does. The driver and newer interpreters
are left untouched.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kapacitor-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Pandas-UDF closures (holt_winters, multimodal, streaming state) are
    # cloudpickled by reference to this package — the spawned Python workers
    # must be able to import it. Local mode: inherit via PYTHONPATH (must be
    # set before the JVM gateway starts). Cluster deployment: ship a wheel
    # with --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Shuffle/scratch dir (r11 optimization round): spark.local.dir
    # defaults to /tmp, and this sandbox's disk has a pathological
    # small-sync path (the bench's io probe swings 0.7x-20x of its pinned
    # reference between runs; measured: the band-join dedup family ran
    # 6-8.8 s with /tmp shuffle files vs 1.3-2.1 s on tmpfs under the
    # same host state). Local-mode shuffle files are throwaway, and
    # /dev/shm is the local equivalent of the fast local NVMe scratch a
    # real cluster node provides — so local runs default there when it
    # exists. A deployment overrides with SPARK_GRAFT_LOCAL_DIR (or
    # Spark's own SPARK_LOCAL_DIRS env, which takes precedence over the
    # conf): at 100 TB shuffle data must live on real disks sized for it,
    # never tmpfs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/kspark_local"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamp[us] without tz must read as TIMESTAMP (LTZ), not
        # TIMESTAMP_NTZ: a post-hoc cast would sit above the scan and defeat
        # predicate pushdown on every time filter. Session tz is pinned UTC
        # so LTZ values are identical to the NTZ reading.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Catalyst constraint propagation is EXPONENTIAL in commutative
        # expression width (getAllValidConstraints canonicalizes every
        # aliased expression with semanticEquals): this engine's wide
        # generated signatures — simhash's 64-term OR packing, minhash's
        # 64 zip_with folds, the 64-comparison perceptual hashes — hang
        # or OOM the DRIVER the moment such a column flows into a filter
        # or join without a persist boundary (measured: a streaming
        # simhash match never finished planning; a brute-force hamming
        # join over an unpersisted signature OOM'd the Context Cleaner).
        # The conf exists for exactly this pathology; what it costs is
        # derived isNotNull/equality constraints — negligible next to
        # the explicit filters these plans already push down.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Spark's generated-class compile cache defaults to 100 entries;
        # a session cycling through many distinct wide plans (the bench's
        # 23 headline queries alone produce >100 generated classes)
        # EVICTS and re-janino-compiles + re-JITs the biggest ones every
        # cycle — measured: simhash at 2.4s interleaved vs 1.45s
        # consecutive in the same session, converging once the cache
        # holds everything. Retained class metadata is trivial next to
        # the 16g heap; a real multi-tenant session wants this too.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SHIP_LOCK = threading.Lock()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``kapacitor_spark`` importable in Python workers for sessions we
    did not create (e.g. the driver's own SparkSession): zip the package once
    and ship it with addPyFile — workers unpack it onto their sys.path.
    No-op on subsequent calls for the same SparkContext. The check and the
    ship run under one lock: concurrent first callers (a thread pool of
    queries) would otherwise rewrite the shared zip while another thread
    ships it, and ship it more than once."""
    sc = spark.sparkContext
    with _SHIP_LOCK:
        if getattr(sc, "_kapacitor_spark_shipped", False):
            return
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(tempfile.gettempdir(), "kapacitor_spark_pkg.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "kapacitor_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        sc.addPyFile(zpath)
        sc._kapacitor_spark_shipped = True


def _stamped_zip_invalidation() -> bool:
    """In a Python worker on CPython < 3.13, replace
    ``zipimporter.invalidate_caches`` with one that re-reads an archive's
    directory only when the archive changed, is gone, or was never stamped
    by this importer. Returns whether the patch was applied."""
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return False
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_kspark_stamp", None):
            reread(self)
            self._kspark_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


_stamped_zip_invalidation()


def local_df(spark: SparkSession, rows, schema, slices: int = 1):
    """createDataFrame for SMALL driver-local row lists without the
    default parallelize fan-out: ``spark.createDataFrame(list)`` slices
    the data across defaultParallelism partitions (on local[32]: 32
    slices, most empty for tiny fixtures/LUTs), and EVERY action on the
    frame then pays one Python-worker round trip per slice — ~0.15 s
    each when a coalesce(1) serializes them (measured: a one-row
    append-write went 5.5 s → 0.4 s with one slice). Lookup tables and
    constant results are a few KB; one partition is the right layout.
    Results are identical — this only sets the partition count.

    Row and schema verification is deferred: ``createDataFrame(list,
    schema)`` checks every row against the schema at the call, while
    ``parallelize`` + schema checks them on the executors at the frame's
    first action. A malformed row therefore raises at that action, not
    here."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(1, int(slices))), schema
    )


def read_table(spark: SparkSession, path: str):
    """Read a parquet table, transparently handling TIMESTAMP(NANOS) columns.

    Spark's parquet reader rejects INT64 TIMESTAMP(NANOS) outright
    (PARQUET_TYPE_ILLEGAL); the driver's testdata uses nanos. We flip the
    legacy nanosAsLong conf (runtime-settable), read nanos as long, and cast
    back to TimestampType truncating to microseconds — the same truncation
    DuckDB applies (its TIMESTAMP is µs), so oracle comparisons agree.

    The cast is a cheap codegen'd projection on top of the scan; predicate
    pushdown and column pruning on all other columns are unaffected.

    PLAN MEMO (r11 optimization round, guide §5 "the driver should do
    almost no data work"): building this DataFrame costs ~0.13-0.39 s of
    pure DRIVER time per call (DataSource resolution re-lists the path and
    re-reads parquet footers for schema inference every time), and a bench
    pass pays it for every query build. The resulting object is a LAZY
    plan — it holds no rows; every action on it still scans the parquet
    files — so re-serving the same plan for the same on-disk file is plan
    reuse, not result caching. The memo lives on the SparkSession object
    (dies with the session) and is keyed on (abspath, mtime_ns, size):
    a rewritten fixture file invalidates its entry. Directory inputs are
    never memoized (a directory's mtime does not track content changes).
    """
    import os as _os

    from pyspark.sql import functions as F

    memo_key = None
    try:
        if not _os.path.isdir(path):
            st = _os.stat(path)
            memo_key = (_os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        memo_key = None
    memo = getattr(spark, "_kspark_read_table_memo", None)
    if memo is None:
        memo = {}
        try:
            spark._kspark_read_table_memo = memo
        except Exception:
            memo = None
    if memo is not None and memo_key is not None and memo_key in memo:
        return memo[memo_key]

    try:
        import pyarrow.parquet as pq

        arrow_schema = pq.read_schema(path)
        nanos_cols = [
            f.name
            for f in arrow_schema
            if str(f.type) in ("timestamp[ns]", "timestamp[ns, tz=UTC]")
        ]
    except Exception:
        nanos_cols = []
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet timestamp[us] without tz must surface as TIMESTAMP (LTZ), not
    # TIMESTAMP_NTZ — a cast above the scan would block predicate pushdown
    # (filters like `l_shipdate <= X` must reach PushedFilters). The session
    # tz is pinned UTC (get_spark), so LTZ carries the same instant values;
    # for externally-created sessions we pin it here too so the conf flip
    # stays value-preserving.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        # integer DIV, not float division: ns epochs overflow double mantissa
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if memo is not None and memo_key is not None:
        memo[memo_key] = df
    return df
