"""SparkSession factory tuned for the engine.

Mirrors the reference's env/session layer (`fiona/env.py:64-307`,
`fiona/session.py:20-655` cloud credential sessions) at the Spark level:
one place that owns configuration, and — critically for multi-executor
clusters — ships the ``fiona_spark`` package to executors as a py-files
zip, which is exactly what ``spark-submit --py-files`` does in
production (north_rule packaging requirement).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
PYFILES_ZIP = "fiona_spark_pyfiles.zip"


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the fiona_spark package for ``spark-submit --py-files``.

    Deterministic content; rebuilt on demand.  Returns the zip path.
    """
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), PYFILES_ZIP)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join("fiona_spark", os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    return dest


def ship_package(sc) -> None:
    """Ship the package to executor Python workers as the py-files zip
    (what ``spark-submit --py-files`` does on a cluster), once per
    SparkContext: re-adding the same path raises nothing, but would
    append another copy to the workers' and the driver's import path."""
    if PYFILES_ZIP not in {os.path.basename(f) for f in sc.listFiles}:
        sc.addPyFile(build_pyfiles_zip())


def default_driver_mem() -> str:
    """The driver heap default: min(12g, a quarter of physical memory
    (``MemTotal`` on Linux)), rounded down to whole GiB, at least 1g —
    3g on a 16 GB host, 12g on large ones.  The heap is pre-touched, so
    a fixed 12g took most of a small host."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(12, total // 4 // 2**30))}g"


def get_spark(cores: int | None = None, app: str = "fiona_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'.  Shuffle partitions
    default to the core count (local mode: 200 would over-parallelize
    tiny stages; on a real cluster this conf is sized to executors x
    cores by the submitter).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or os.cpu_count() or 8

    # glibc allocator tuning for the Python workers (r8): numpy batch
    # kernels allocate multi-MB temporaries per Arrow batch; with the
    # default 128 KB mmap threshold glibc mmap/munmaps them every batch,
    # so each batch faults in fresh pages.  On hosts where first-touch
    # is expensive (lazy VM memory, overcommitted hypervisors) this
    # serializes the whole executor fleet — measured 30-80 s/batch
    # first-wave stalls vs 0.4 s of actual compute on this VM.  Raising
    # the mmap+trim thresholds keeps the blocks on the reused heap, so
    # after warmup a steady-state worker touches no new pages at all.
    # Parameterised; harmless where first-touch is cheap (the same
    # blocks are simply reused from the heap's free list).
    malloc_thr = os.environ.get("SPARK_GRAFT_MALLOC_THRESHOLD",
                                str(256 * 1024 * 1024))
    malloc_env = {"MALLOC_MMAP_THRESHOLD_": malloc_thr,
                  "MALLOC_TRIM_THRESHOLD_": malloc_thr,
                  # route pyarrow through glibc malloc so its batch
                  # buffers get the same heap-reuse behavior
                  "ARROW_DEFAULT_MEMORY_POOL": "system"}
    driver_mem = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                  or default_driver_mem())
    for k, v in malloc_env.items():
        # must be in the JVM's environment BEFORE it spawns so the
        # pyspark.daemon / worker processes inherit it (local mode);
        # spark.executorEnv.* below covers real cluster executors
        os.environ.setdefault(k, v)

    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        # -Xms == -Xmx + AlwaysPreTouch (r8): G1 otherwise grows the
        # heap lazily across the first queries, and every region commit
        # first-touches fresh pages — on hosts with lazy VM memory that
        # made the 4.9 GB parquet scan cost 25-35 s instead of 1.3 s.
        # Pre-touching moves the entire fault cost into session startup
        # (untimed setup), and a fixed-size heap is never uncommitted.
        # The default heap is sized to the driver's actual working set
        # (bounded collects + broadcasts, << 12g) and to the host (see
        # default_driver_mem), never 48g, so the pre-touch stays cheap;
        # SPARK_GRAFT_DRIVER_MEM overrides.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in malloc_env.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark.sparkContext)
    return spark
