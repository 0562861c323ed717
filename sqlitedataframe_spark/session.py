"""SparkSession construction and runtime tuning.

Design note (100 TB): nothing here is local-mode specific. ``get_spark`` is a
convenience for tests/bench on ``local[N]``; on a real cluster the caller
brings their own session and we only apply *runtime-settable* knobs via
``tune`` (session timezone for deterministic date semantics, AQE for runtime
re-planning and skew-join handling, sane shuffle parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Target size under which a join side should be broadcast. 64 MB is
#: conservative for 1000-executor clusters with default 4 GB executors.
BROADCAST_THRESHOLD = str(64 * 1024 * 1024)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)


def _default_driver_memory() -> str:
    """Half the host's physical memory, in whole GiB (at least 1g). A heap
    sized past the host lets the kernel OOM-kill the JVM before Java can
    raise an OutOfMemoryError."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2**31)}g"


def get_spark(app_name: str = "sqlitedataframe-spark", cpus: int | None = None) -> SparkSession:
    """Build a local SparkSession sized for this machine (tests / bench)."""
    n = int(cpus or default_parallelism())
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # One shuffle partition per core locally; AQE coalesces small ones.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # tune sets the runtime knobs: time zone, AQE, broadcast threshold,
    # Python data-source filter pushdown and the top-k sort fallback
    return tune(spark)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable correctness/perf knobs to an existing session.

    Safe to call on a session we did not create (the driver's). Only touches
    confs that are runtime-mutable in Spark 4.

    Idempotent per session object (r12): load_table routes every table
    read through here, so a bench session pays the ~10 conf.set py4j
    round-trips thousands of times for identical values — the guard skips
    repeats (re-running tune on a NEW session object still applies).
    """
    if getattr(spark, "_sdf_tuned", False):
        return spark
    conf = spark.conf
    # Deterministic timestamp semantics: parquet instants compare equal to the
    # naive UTC values the DuckDB oracle sees.
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Sane shuffle parallelism on an untuned session (default 200): AQE
    # coalesces batch shuffles, but Structured Streaming takes no AQE —
    # its stateful operators allocate one state store PER shuffle
    # partition, so 200 partitions makes every watermarked micro-batch
    # pay ~6x in task overhead on a 32-core box (measured: the
    # stream-stream join drops 30s -> ~8s). Only lowered, never raised,
    # and only when the session still has the stock default.
    try:
        if conf.get("spark.sql.shuffle.partitions") == "200":
            conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    # A sort + limit above this k plans as a full sort and a limit, not
    # TakeOrderedAndProject: its per-task top-k buffer holds 2·k slots, so
    # a caller's huge k (top_k=10**9) would run the heap out whatever its
    # size. Below the threshold the bounded top-k stays.
    conf.set("spark.sql.execution.topKSortFallbackThreshold", "1000000")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", BROADCAST_THRESHOLD)
    except Exception:
        pass
    try:
        # required for the SQLite bridge reader: reads FAIL if the reader
        # defines pushFilters while this is off
        conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark._sdf_tuned = True
    return spark


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on Python WORKER processes regardless
    of the driver's cwd (idempotent; called from io.load_table).

    cloudpickle ships mapInPandas/pandas_udf closures by value, but any
    module-level helper they reference (the PNG codec, decode helpers) is
    pickled by REFERENCE — the worker must import the module. When the
    driver happens to run from the repo root, workers inherit the cwd and
    the import works by accident; a driver launched anywhere else (the
    contract allows it) would hit ModuleNotFoundError. Shipping a zip of
    the package via addPyFile fixes it structurally: PySpark inserts
    python-include paths per TASK, so even already-running reused workers
    pick it up. On a real cluster this is exactly how application code
    reaches executors (spark-submit --py-files).
    """
    sc = spark.sparkContext
    if getattr(sc, "_sdf_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # Key the zip on a content hash of the package sources, NOT the driver
    # PID: PID reuse (or a leftover temp file from an older checkout) would
    # silently ship a stale copy of the package to executors.
    sources = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                sources.append(os.path.join(dirpath, fn))
    sources.sort()
    h = hashlib.sha256()
    for full in sources:
        h.update(os.path.relpath(full, root).encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"sqlitedataframe_spark_pkg_{h.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        # write-then-rename so a concurrent driver never addPyFiles a
        # half-written zip
        fd, tmp = tempfile.mkstemp(
            suffix=".zip", dir=tempfile.gettempdir()
        )
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    try:
        sc.addPyFile(zpath)
    except Exception:
        # e.g. a stopped context mid-teardown; harmless — the cwd
        # fallback still covers the common layout
        return
    sc._sdf_pkg_shipped = True
