"""SparkSession factory.

Defaults are tuned for the local[N] test harness but every knob is the one
you would also set on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), shuffle partitions sized to the
parallelism actually available, UTC session timezone (required for DuckDB
oracle comparison — DuckDB timestamps are UTC-naive), and Arrow enabled for
the few Pandas-UDF code paths.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_warehouse_cleanup_registered = False


def _default_warehouse_dir() -> str:
    """Per-PID scratch warehouse, removed at interpreter exit.

    Without the atexit hook every process run leaves an unbounded
    ``spark-warehouse-<pid>`` dir in /tmp — exactly the leak shape
    the scratch-dir cleanup policy exists to avoid."""
    global _warehouse_cleanup_registered
    path = os.path.join(tempfile.gettempdir(), f"spark-warehouse-{os.getpid()}")
    if not _warehouse_cleanup_registered:
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _warehouse_cleanup_registered = True
    return path


def scratch_dir(prefix: str = "scratch") -> str:
    """A fresh subdirectory of the per-process scratch warehouse.

    For operator results that must OUTLIVE the operator call but not the
    process: a query wrapper can materialize here and return a lazy
    DataFrame over the files instead of collecting rows through the
    driver (corpus-proportional collects are the one scale anti-pattern
    a wrapper could otherwise be forced into when its state dir is
    torn down in a `finally`). Cleanup rides the warehouse atexit hook —
    no per-call rmtree to race against lazy readers."""
    base = _default_warehouse_dir()
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{prefix}-", dir=base)


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return max(1, os.cpu_count() or 4)


def get_spark(
    app_name: str = "clickhouse-segments-tutorial-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: the default 200
    over-parallelizes tiny local runs; on a real cluster you would size it to
    ~2-3x total executor cores (or simply let AQE coalesce, which is enabled).
    """
    par = shuffle_partitions or default_parallelism()
    active = SparkSession.getActiveSession()
    if active is not None and master is not None:
        current = active.sparkContext.master
        if current != master:
            import warnings

            # static confs (master, driver memory) cannot change after JVM
            # launch; getOrCreate will silently return the old session
            warnings.warn(
                f"get_spark(master={master!r}) ignored: active session "
                f"already running with master={current!r}",
                stacklevel=2,
            )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_parallelism()}]")
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the engine's table format (sources/writers.py): 8-byte INT64
        # timestamps instead of the 12-byte INT96 default, zstd instead
        # of snappy. Both are read from the session conf at write time.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # catalog-table data (bucketed tables, scratch databases) defaults
        # under the process cwd ("spark-warehouse/") otherwise — a library
        # must not write cwd-relative dirs; scratch is the correct default
        # for this engine's per-run catalog use. Ignored if the caller's
        # session already exists (static conf).
        .config("spark.sql.warehouse.dir", _default_warehouse_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
