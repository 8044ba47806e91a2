"""SparkSession factory with the engine's required configuration.

Arrow-batched pandas UDFs are the engine's execution substrate (SURVEY §2.8);
AQE handles runtime re-planning and skew-join splitting at scale.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

_GIB = 1 << 30
# Heap cap: measured best for the sf0.1 + 2M-page workloads on 32 cores.
_MAX_HEAP_GIB = 16
# cgroup v2 and v1 memory limits; "max" or a missing file means no limit.
_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _usable_memory_bytes() -> int:
    """The smaller of physical memory and the process's cgroup limit."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in _CGROUP_LIMIT_FILES:
        try:
            with open(path) as f:
                text = f.read().strip()
        except OSError:
            continue
        if text.isdigit():
            limits.append(int(text))
    return min(limits)


def driver_memory() -> str:
    """The driver heap size: ``$SPARK_DRIVER_MEM`` if set, else derived.

    The derived default is half the usable memory, rounded down to whole
    GiB, within [1g, 16g]. Half, because the heap is pretouched and stays
    resident; the rest holds one Python worker per core, off-heap Arrow and
    Netty buffers, the driver's Python process and the page cache. An
    explicit setting larger than the usable memory raises ``ValueError``
    instead of a JVM that cannot start.
    """
    usable = _usable_memory_bytes()
    value = os.environ.get("SPARK_DRIVER_MEM")
    if value is None:
        gib = min(_MAX_HEAP_GIB, max(1, usable // 2 // _GIB))
        return f"{gib}g"
    m = re.fullmatch(r"(\d+)([kmgt])", value.strip().lower())
    if m is None:
        raise ValueError(
            f"SPARK_DRIVER_MEM={value!r}: expected a whole number with a "
            "k, m, g or t suffix, such as 3g or 3072m"
        )
    if int(m[1]) * _SIZE_UNITS[m[2]] > usable:
        raise ValueError(
            f"SPARK_DRIVER_MEM={value!r} is more than the "
            f"{usable / _GIB:.1f} GiB of memory this process can use"
        )
    return value


def get_spark(
    app_name: str = "gos2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session configured for the engine.

    On a real cluster this is launched via ``spark-submit --py-files
    gos2_spark.zip job.py`` and ``master`` comes from the submit command;
    locally it defaults to ``local[$SPARK_GRAFT_CPUS]``. The driver heap
    is sized by :func:`driver_memory`. ``shuffle_partitions`` defaults to
    two per core of the master (``defaultParallelism``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    heap = driver_memory()

    # Pin per-worker BLAS/OMP to one thread: each executor core runs its own
    # Python worker, so threaded BLAS inside the numpy kernels oversubscribes
    # cores quadratically (32 workers x N BLAS threads) and *inverts* scaling.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow channel for pandas UDFs — mandatory for the kernel hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # AQE: runtime coalescing, broadcast selection, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Scan-split sizing: the 128MB default bin-packs small local parquet
        # files into FEWER TASKS THAN CORES (measured: a 1.2GB/128-file
        # table became 13 scan tasks at local[32] — the scan stage capped at
        # 13/32 cores). 32MB keeps ~2-4 waves per core locally; a real
        # cluster run overrides it through ``extra_conf``.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Local mode: the driver JVM runs every executor thread — size the
        # heap for (cores x partition working set + broadcasts); an 8g heap
        # GC-thrashes at 32 cores and scaling collapses, while an oversized
        # heap costs real time: pages fault in at ~1.4 GB/s, so every
        # untouched heap GiB is ~0.7s of mid-job stall; hence the 16g cap
        # in driver_memory().
        .config("spark.driver.memory", heap)
        # preallocate + pretouch the heap at startup (excluded from bench
        # timings): growing/faulting it lazily under the first full-size
        # Arrow allocation storm showed 74s-vs-3s run variance at local[32].
        # ParallelGCThreads also parallelizes the pretouch itself.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap} -XX:+UseG1GC -XX:+AlwaysPreTouch "
                f"-XX:ParallelGCThreads={os.cpu_count() or 8}")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = 2 * spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def literal_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples) with ``schema`` (a DDL
    string or a ``StructType``) that Spark plans as a ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` over Python rows is a Python
    RDD: every execution of it starts Python-worker tasks (a 2-row
    ``distinct().collect()`` took 0.43-0.49 s, against 0.14-0.15 s from
    an Arrow table, on 4 cores). An Arrow table small enough for
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation``: the rows live in the plan, and reading them is a
    JVM-only scan. Meant for string, numeric and boolean columns: Arrow
    reads a naive ``datetime`` as UTC, not in the session time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
