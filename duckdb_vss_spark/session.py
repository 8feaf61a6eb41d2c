"""SparkSession factory tuned for this engine.

Local test mode uses ``local[N]``; the same conf keys are what we'd set on
a real cluster (AQE on, shuffle partitions sized to the data, Arrow on for
the pandas-UDF paths). Engine-specific settings live under the
``spark.vss.*`` namespace, mirroring the reference's ``SET hnsw_ef_search``
session setting (reference: src/hnsw/hnsw_index.cpp:679-687).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Engine conf keys (session-settable, read at search time like the
# reference's hnsw_ef_search: src/hnsw/hnsw_index.cpp:288-299).
CONF_EF_SEARCH = "spark.vss.ef_search"
CONF_ENABLE_PERSISTENCE = "spark.vss.enable_experimental_persistence"

DEFAULT_EF_SEARCH = 64  # usearch default expansion_search (index.hpp:1107)


def _host_memory_bytes() -> int:
    """Physical memory, or the cgroup limit when that is lower."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem = min(mem, int(raw))
    return mem


def get_spark(app_name: str = "duckdb_vss_spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults, sized from the
    host: ``local[N]`` over the cores in the scheduler affinity mask and
    a driver heap of 60 % of physical or cgroup memory, whichever is
    lower. ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override
    either. Python workers import this package from its parent
    directory, whatever their working directory.

    On a real cluster, drop ``master`` and let spark-submit decide; the
    rest of the conf is scale-appropriate as-is (AQE handles runtime
    coalescing and skew joins at any data size).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    heap = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1024, _host_memory_bytes() * 6 // 10 >> 20)}m"
    )
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing stays at parallelismFirst=true (the default).
        # The r11 floor experiment (SCALE.md) measured the size-first
        # alternative BOTH ways: parallelismFirst=false + 64 m advisory
        # takes 25-35% off sub-second 1× queries (one reduce task
        # instead of 32 near-empty ones: q01 1.06→0.76 s, q03
        # 0.99→0.64 s) but UNDER-PARALLELIZES CPU-heavy shuffles at
        # ×32 on this 32-core box (q18 4.4→8.2 s, q03 4.3→5.3 s — the
        # compressed shuffle bytes mispredict JVM CPU cost per row).
        # The 100 TB design point favors throughput at scale over
        # sub-second interactive latency, so the default stands; users
        # running interactive sub-10 MB workloads can flip the two
        # confs per session.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.executorEnv.PYTHONPATH", pkg_parent)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # one BLAS thread per python worker: the scheduler already runs
        # one task per core, so letting OpenBLAS spawn ncores threads
        # inside EACH of 32 concurrent workers oversubscribes the box
        # ~32x on every executor-side numpy matmul (index builds, PQ
        # encodes, dedup grams). Measured on the 1M-row HNSW build:
        # ~15% faster capped. Driver-side numpy is unaffected.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_frame(spark: SparkSession, columns: dict, schema: str) -> DataFrame:
    """A driver-built frame (``columns`` maps each field of the DDL
    ``schema`` to its values) as a local relation built from a pyarrow
    table: collecting it runs no Spark job and starts no Python worker,
    where a Python-list ``createDataFrame`` is a pickled RDD whose
    first action does both."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    return spark.createDataFrame(pa.Table.from_pydict(columns, schema=arrow_schema), schema)


def set_interactive(spark: SparkSession, on: bool = True) -> None:
    """Flip the session between the scale posture (default) and the
    measured sub-second interactive posture.

    ``on=True`` sets size-first AQE coalescing
    (``parallelismFirst=false`` + 64 MB advisory): sub-10 MB
    post-filter aggregations run ONE reduce task instead of
    parallelism-many near-empty ones — measured 25-35% off sub-second
    relational queries at sf0.1 (SCALE.md, r11 floor experiment).
    ``on=False`` restores the defaults, which the same experiment
    showed are required at scale: size-based coalescing
    under-parallelizes CPU-heavy shuffles (q18 ×32: 4.4 s → 8.2 s)
    because compressed shuffle bytes mispredict JVM CPU per row.

    Runtime-settable — flip between queries, no session restart."""
    if on:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    else:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.parallelismFirst")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def get_ef_search(spark: SparkSession, override: int | None = None) -> int:
    """Session ef_search, like the reference's hnsw_ef_search setting."""
    if override is not None:
        return int(override)
    return int(spark.conf.get(CONF_EF_SEARCH, str(DEFAULT_EF_SEARCH)))


def check_persistence_enabled(spark: SparkSession) -> None:
    """Gate on ``spark.vss.enable_experimental_persistence``, mirroring
    the reference's hnsw_enable_experimental_persistence setting, which
    blocks CREATE INDEX when index persistence is disabled
    (src/hnsw/hnsw_index_physical_create.cpp — the persistence guard).
    Our artifacts are persisted by design, so the default is true; a
    session can set it false to forbid writing index artifacts."""
    val = str(spark.conf.get(CONF_ENABLE_PERSISTENCE, "true")).lower()
    if val in ("false", "0", "no"):
        # wording parity with the reference's guard
        # (hnsw_index_physical_create.cpp / hnsw_experimental_
        # persistence.test) so its error-asserting scripts replay
        raise ValueError(
            "HNSW indexes can only be created in in-memory databases, or "
            "when the configuration option "
            "'hnsw_enable_experimental_persistence' is set to true. "
            f"(index persistence is disabled: set '{CONF_ENABLE_PERSISTENCE}'"
            " to true to create index artifacts)"
        )
