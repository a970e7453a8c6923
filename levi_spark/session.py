"""SparkSession factory for levi-spark.

One place to configure the session the way the engine expects:

* UTC session timezone — deterministic timestamp semantics across the
  duckdb oracle, the Delta log's epoch-millis ``modificationTime``
  fields, and partition-value parsing.
* AQE on — runtime re-planning (skew joins, dynamic coalescing) is the
  scale story for the 100 TB target; on local[N] it also coalesces
  tiny shuffle partitions.
* ``spark.sql.shuffle.partitions`` sized for the local test harness;
  a real cluster deployment overrides it (or lets AQE coalesce).

The reference (levi) has no session concept — it is single-process
delta-rs/pyarrow (``/root/reference/levi/__init__.py:1-10``). This module
is the Spark-native replacement for that implicit runtime.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for ``local[N]`` and the default shuffle width:
    ``$SPARK_GRAFT_CPUS`` when set, otherwise the cores this process
    may run on (its CPU affinity, not the machine's core count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# --- input-sized session rule (the 100x-tier lesson, as code) ---------
#
# The 100x scaling tier showed the sf0.1-sized session (8g driver, 32
# shuffle partitions) OOMs a pair-expanding aggregate at ~1.7 GB of
# on-disk parquet input, while 32g + 128 partitions runs it green
# (BENCH_SF10.json config note). The rule below derives both knobs from
# scanned bytes so the config scales WITH the data instead of being a
# recorded knob:
#
# * shuffle partitions — the classic ~128 MiB-per-partition-in-flight
#   rule, expressed in on-disk terms: snappy/zstd parquet expands ~8x
#   when decoded into shuffle rows, so one partition per 16 MiB ON DISK
#   keeps in-flight partitions near 128 MiB. Rounded UP to a multiple
#   of the core count so the largest stage runs full waves, floored at
#   one partition per core.
# * driver memory (local mode: driver == only executor) — next power of
#   two of 16 bytes-in-memory per byte-on-disk, floored at 8g, capped
#   at 64g. Reproduces the three measured tiers: sf0.1 (17 MB) -> 8g,
#   10x/20x (170/340 MB) -> 8g, 100x (1.7 GB) -> 32g.
#
# On a real cluster, driver memory stops mattering for data (executors
# scale out) and the partition rule generalizes: scanned bytes still
# come from file sizes, cores = executors x cores-per-executor.

TARGET_DISK_BYTES_PER_PARTITION = 16 << 20
MEM_EXPANSION = 16
MIN_DRIVER_GB = 8
MAX_DRIVER_GB = 64


def dir_bytes(path: str) -> int:
    """Total file bytes under ``path`` (a file, a parquet file, or a
    directory tree of data files)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def sized_session_conf(input_bytes: int, cpus: int | None = None) -> dict:
    """{'shuffle_partitions': int, 'driver_memory': 'Ng'} sized for
    ``input_bytes`` of on-disk columnar input (rule above)."""
    cpus = cpus or local_cpus()
    need = max(1, math.ceil(input_bytes / TARGET_DISK_BYTES_PER_PARTITION))
    waves = max(1, math.ceil(need / cpus))
    gb_needed = max(
        MIN_DRIVER_GB, math.ceil(input_bytes * MEM_EXPANSION / (1 << 30))
    )
    gb = 1 << math.ceil(math.log2(gb_needed))
    return {
        "shuffle_partitions": waves * cpus,
        "driver_memory": f"{min(MAX_DRIVER_GB, gb)}g",
    }


def get_spark_for_data(
    data_dir: str,
    app_name: str = "levi-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``get_spark`` with shuffle partitions and driver memory derived
    from the on-disk size of ``data_dir`` (``sized_session_conf``).
    ``SPARK_GRAFT_DRIVER_MEM`` still overrides the derived memory, and
    an already-running session keeps its JVM (Spark cannot resize a
    live driver) — call this before the first session is created."""
    conf = sized_session_conf(dir_bytes(data_dir))
    return get_spark(
        app_name=app_name,
        master=master,
        shuffle_partitions=conf["shuffle_partitions"],
        driver_memory=conf["driver_memory"],
        extra_conf=extra_conf,
    )


def get_spark(
    app_name: str = "levi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    # Python workers (pandas UDFs, applyInPandasWithState) unpickle
    # module-level references by importing them — make the package root
    # importable in worker processes no matter where the driver ran from.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Arrow for any pandas-UDF boundary (similarity / multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_memory or "8g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.columnarReaderBatchSize", "4096")
        # columnMapping 'id' mode: the DeltaLog scan schema carries
        # parquet.field.id metadata and the reader must resolve by it
        # (delta-spark sets the same flag for id-mapped tables). For
        # schemas without field-id metadata this is a no-op.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark


_WARMED_APP_IDS: set[str] = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-import the heavy Python-worker dependencies (pandas,
    pyarrow, numpy) in one worker per core at session creation.

    Reused Python workers (``spark.python.worker.reuse``, default on)
    pay their module imports exactly once — but lazily, on the FIRST
    task that crosses the Python boundary. On a 32-core local session
    that is ~3-4 s of import time charged to whichever query happens
    to hit a pandas-UDF path first (measured: a 100-row self-hosted
    Delta write costs 4.2 s cold vs 1.1 s warm; a standard-DV delete
    5.0 s cold vs 1.3 s warm). Doing it here makes session startup own
    the one-time cost — the same place JVM startup already lives —
    instead of a random query. Guide §4.5: heavyweight init once per
    task/worker, never per row."""
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED_APP_IDS:
        return
    _WARMED_APP_IDS.add(app_id)
    n = spark.sparkContext.defaultParallelism

    def _imp(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.parquet  # noqa: F401

        for b in batches:
            yield b

    try:
        (
            spark.range(n, numPartitions=n)
            .mapInPandas(_imp, "id long")
            .write.format("noop").mode("overwrite").save()
        )
    except Exception:
        # warm-up is best-effort; never fail session creation over it
        pass
