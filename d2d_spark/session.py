"""SparkSession factory — the single place engine configuration lives.

Tuned for the sandbox (single JVM, ``local[N]``) but every knob is the
one that matters on a real cluster too: AQE for runtime re-planning,
shuffle partitions sized to cores (not the 200 default), Arrow for any
Pandas-UDF boundary, UTC session time zone so results are
timezone-stable across engines (the DuckDB oracle runs in UTC).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession

_MIB = 1 << 20
_GIB = 1 << 30
# cgroup v1 reports "no limit" as LONG_MAX rounded down to a page
# (9223372036854771712); any value this large means unlimited
_CGROUP_UNLIMITED = 1 << 62


def cgroup_memory_limit(proc_self_cgroup: str, read: Callable[[str], str | None]) -> int | None:
    """Byte limit of the memory cgroup described by ``proc_self_cgroup``
    (the text of ``/proc/self/cgroup``), or None when no limit is set.

    Reads v2 ``memory.max`` (the ``0::`` line) and v1
    ``memory.limit_in_bytes`` (the ``memory`` controller line) through
    ``read(path) -> text | None``, at the cgroup's own directory and
    every ancestor up to the mount root: a parent's limit binds the
    child too, and in a container without a cgroup namespace the
    listed path does not exist under the mount, whose root is the
    container's own cgroup. The smallest limit found wins; ``max``
    and the v1 sentinel count as no limit."""
    limits = []
    for line in proc_self_cgroup.splitlines():
        hier, _, rest = line.partition(":")
        controllers, _, path = rest.partition(":")
        if hier == "0" and controllers == "":
            root, leaf = "/sys/fs/cgroup", "memory.max"
        elif "memory" in controllers.split(","):
            root, leaf = "/sys/fs/cgroup/memory", "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        for depth in range(len(parts), -1, -1):
            rel = "".join(f"/{p}" for p in parts[:depth])
            text = read(f"{root}{rel}/{leaf}")
            if text is None or not text.strip().isdigit():  # missing, or "max"
                continue
            if int(text) < _CGROUP_UNLIMITED:
                limits.append(int(text))
    return min(limits) if limits else None


def driver_memory(ram_bytes: int, cgroup_limit: int | None, override: str | None = None) -> str:
    """The ``spark.driver.memory`` value: ``override``
    (``SPARK_GRAFT_DRIVER_MEM``) when set, else a quarter of the
    memory this process may use — its cgroup limit when one is set
    and below physical RAM, else RAM — floored at 1 GiB, as ``<n>m``.

    A quarter is the JVM's own container ergonomic (MaxRAMPercentage
    25). The rest is what lives outside the heap: the Python driver,
    the pyspark daemon, one Python worker per core and the JVM's
    off-heap memory (metaspace, code cache, Arrow/Netty buffers).
    Spark's unified memory is a fraction of the heap, so an input
    larger than that spills to ``SPARK_LOCAL_DIRS``; a heap sized past
    the host instead lets G1 grow until the OS refuses the mapping or
    kills the JVM."""
    if override:
        return override
    budget = min(ram_bytes, cgroup_limit) if cgroup_limit else ram_bytes
    return f"{max(budget // 4, _GIB) // _MIB}m"


def _read_text(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _host_driver_memory() -> str:
    """``driver_memory`` for this process, from its cgroup, the host's
    physical RAM and ``SPARK_GRAFT_DRIVER_MEM``."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    limit = cgroup_memory_limit(_read_text("/proc/self/cgroup") or "", _read_text)
    return driver_memory(ram, limit, os.environ.get("SPARK_GRAFT_DRIVER_MEM"))


def engine_cpus() -> int:
    """Task slots for ``local[N]`` and the static shuffle width:
    ``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on. Each slot can hold a Python worker (about 165 MB), so more
    slots than CPUs costs memory and buys no parallelism."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


# the directory that holds the d2d_spark package, for the workers' PYTHONPATH
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "d2d_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    At 100 TB the same settings hold: AQE coalesces post-shuffle
    partitions and rewrites skewed joins at runtime, so the static
    ``shuffle.partitions`` only needs to be an upper bound ~2-3x the
    executor-core count. Parquet pushdown/pruning are on by default.

    ``master`` defaults to ``local[engine_cpus()]`` and
    ``shuffle_partitions`` to the same count, both read at each call.
    The driver heap is ``_host_driver_memory()``. Python workers run
    under ``d2d_spark._pyspark.daemon``, which stops every task from
    re-reading pyspark's zip (0.1-0.25 s a task on CPython 3.11), so
    workers must be able to import ``d2d_spark``: the package's own
    root is put on their PYTHONPATH, and elsewhere it must be
    installed, as the bridges' pickled helpers already require.
    """
    cpus = engine_cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §2.2 "fewer, larger partitions"): by default Spark
        # pins a CACHED plan's output partitioning to the static
        # shuffle.partitions (no AQE coalescing), so every persisted
        # frame whose plan ends in a shuffle materializes at the full
        # static width and every cache consumer inherits it — measured
        # on the dedup suite: 1765 tasks/run vs 89 with the flag, 30x
        # executor time on identical results. With the flag AQE sizes
        # cached partitions by advisoryPartitionSizeInBytes, which is
        # the same scale-adaptive posture the rest of the engine runs
        # (tiny corpus -> few partitions, 100 TB -> 64 MB partitions).
        # Audit obligation: a cached frame's partition count now
        # depends on its bytes, so a float sum over a cached frame can
        # move in the last ulps with the data size. Any such sum must
        # pin its partitioning or summation order itself, as
        # attribution's time_decay (ordered over the full frame) and
        # stats.binary_auc (explicit repartition) do.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r11: plan STRINGS are rendered per SQL-listener event (and
        # re-rendered per AQE stage update); the default cap is ~2 GB,
        # so a deep composite plan burns driver CPU + heap building
        # strings nothing reads (measured: minutes in
        # generateTreeString on chained-operator plans). 8 MB keeps
        # every explain()/audit dump intact (largest real plan ~0.6 MB)
        # while bounding the pathological case.
        .config("spark.sql.maxPlanStringLength", "8388608")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "d2d_spark._pyspark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/d2d_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table, normalizing physical quirks.

    `events.ts` arrives in two physical shapes depending on fixture
    generation: TIMESTAMP(NANOS) (Spark refuses natively; read nanos
    as long via runtime SQL conf and rebuild a microsecond timestamp
    JVM-side — same floor(ns/1000) truncation DuckDB applies) or
    tz-less timestamp[us], which Spark 4 infers as TIMESTAMP_NTZ.
    Both normalize to instant TIMESTAMP: watermarks/event-time ops
    require it, and under the engine's pinned UTC session timezone the
    NTZ→instant cast is wall-clock-identical, so oracle comparisons
    are unaffected. Still a pure columnar scan either way."""
    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Read the fixture star schema; returns {name: DataFrame} and
    registers each as a temp view so ``spark.sql`` works over them."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
