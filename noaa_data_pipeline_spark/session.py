"""SparkSession factory with deployment-aware defaults.

Two profiles, chosen by the master URL:

- **cluster** (any non-local master): AQE on — runtime partition
  coalescing, skew-join splitting, and dynamic broadcast demotion
  are what keep 100 TB shuffles healthy; initial shuffle partitions
  are a ceiling AQE coalesces down from.
- **local** (``local[...]``): AQE off and static partitions sized to
  the core count. On sub-GB inputs AQE's per-stage scheduling
  barriers cost more than its re-planning saves (~30-50% measured
  on the sf0.1 bench) and there is no skew or cluster to adapt to.
  ``SPARK_GRAFT_AQE=1`` forces it back on for local scale testing.

Shared in both profiles: UTC session timezone (timestamp semantics
match an ANSI/DuckDB oracle), Arrow for every pandas exchange, and a
generous broadcast threshold (dimension tables broadcast instead of
shuffling the fact side).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable on executor Python workers.

    Plain ``local[...]`` masters run workers on the driver's machine
    with the driver's sys.path, so imports just work. Any master with
    SEPARATE executors (``local-cluster[...]``, standalone, YARN,
    k8s) spawns Python workers that must import
    ``noaa_data_pipeline_spark`` themselves — every module-level
    function referenced from a pandas UDF closure is pickled BY
    REFERENCE (observed: ModuleNotFoundError from the multimodal and
    semantic-dedup mapInPandas stages under local-cluster). Shipping
    a zip via addPyFile is the same mechanism ``spark-submit
    --py-files`` uses in a real deployment. Content-hashed and
    cached per process; idempotent per session."""
    spark.sparkContext.addPyFile(package_zip())


def package_zip() -> str:
    """Build (or reuse) the content-hashed zip of this package that
    ``_ship_package`` ships to executors. Exposed for tests and for
    external submitters that want the --py-files artifact."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    digest = hashlib.sha1()
    py_files = []
    for root, dirs, files in os.walk(pkg_dir):
        # sort the in-place dirs list so the walk order — and with it
        # the content digest — is a deterministic function of content,
        # not of filesystem iteration order (ADVICE r8: unsorted
        # walks produced differently-named zips for identical content
        # across machines, defeating the content-addressed cache)
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                py_files.append(path)
                # fold the archive-relative path in too: moving code
                # between files must change the digest even when the
                # concatenated bytes happen to be identical
                digest.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    zip_path = os.path.join(
        "/tmp", f"noaa_data_pipeline_spark_{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for path in py_files:
                arc = os.path.join(
                    "noaa_data_pipeline_spark", os.path.relpath(path, pkg_dir)
                )
                zf.write(path, arc)
        os.replace(tmp, zip_path)  # atomic vs a concurrent builder
    return zip_path


def _default_local_dir() -> str | None:
    """Shuffle/spill scratch location (``spark.local.dir``).

    Spark's own tuning guidance is to point this at the fastest
    local disks available; on this box the root fs is ext4 on a
    virtio disk whose small-file write latency dominated every
    exchange (r15 task metrics: 5.8 s of Shuffle Write Time across
    32 tasks to write 6.6 MB — ~40% of the map stage's executor
    time), while /dev/shm is a RAM-backed tmpfs. Production tuning
    is unchanged in kind: you provision NVMe for shuffle and set
    spark.local.dir/SPARK_LOCAL_DIRS accordingly; tmpfs is simply
    this sandbox's fast device. Resolution order: explicit
    SPARK_GRAFT_LOCAL_DIR env wins; else tmpfs when present,
    writable, AND comfortably empty; else None (Spark's default
    /tmp). Shuffle files are transient (removed when the context
    stops), so tmpfs occupancy is bounded by the largest live
    shuffle, which at gate/bench scale is MBs.

    The capacity guard (r15 VERDICT item 1): tmpfs is RAM — a
    multi-GB spill lands in the same physical memory as the JVM
    heap, and tmpfs is typically capped at 50% of RAM, so a
    heavy-tier run that spills tens of GB would ENOSPC mid-job
    (and its pages would compete with a 48g heap exactly in the
    GC hazard band). Tmpfs is only auto-selected when at least
    SPARK_GRAFT_TMPFS_MIN_FREE_GB (default 32) GiB are free —
    orders of magnitude above any gate/bench shuffle, and a run
    that expects to spill more than that must pin a disk via
    SPARK_GRAFT_LOCAL_DIR (the scale tools do exactly that)."""
    explicit = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if explicit:
        return explicit
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        min_free_gb = float(os.environ.get("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "32"))
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= min_free_gb * 1024**3:
            return os.path.join(shm, "noaa_spark_local")
    return None


def _derived_shuffle_partitions(cpus: int) -> int | None:
    """Lake-size-derived shuffle width for LOCAL sessions (r15 VERDICT
    item 4: "derive widths from input size with the core count as a
    cap").

    The old default (= core count) over-shards toy inputs: the r15
    driver's 8-core scaling run beat the 32-core run on four headline
    queries (q9 0.87, q21 0.86, decontam 0.84, minhash_lsh 0.82),
    and a same-box width sweep reproduced it at 32 cores — width 16
    vs 32 at sf0.1: decontam 0.22-0.24 vs 0.43-0.57 s, minhash_lsh
    0.42-0.49 vs 0.61-0.75 s, q21 0.24-0.26 vs 0.33-0.44 s, q9
    0.26-0.30 vs 0.30-0.37 s, with every other headline entry inside
    noise. The fix is scale-adaptive, not a constant: width =
    clamp(lake_bytes / SPARK_GRAFT_SHUFFLE_TARGET_MB, 4, cpus), so
    partitions carry enough bytes to amortize per-task scheduling.
    Any real lake saturates the core cap (at the 1 MB local target a
    32-wide session needs only 32 MB of lake), so this changes
    nothing at scale — production clusters run the AQE profile where
    the static conf is a ceiling AQE coalesces from, and both the
    env and the explicit argument still override.

    Returns None (caller falls back to the core count) when no lake
    is declared via SPARK_GRAFT_SF_DIR."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        return None
    def _raise(err: OSError):
        raise err

    total = 0
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                p = os.path.join(sf_dir, name)
                # a table directory may be partitioned (part=*/...):
                # walk every level, not only the top one
                total += (
                    os.stat(p).st_size
                    if os.path.isfile(p)
                    else sum(
                        os.stat(os.path.join(d, f)).st_size
                        for d, _, files in os.walk(p, onerror=_raise)
                        for f in files
                        if f.endswith(".parquet")
                    )
                )
    except OSError:
        return None
    if total <= 0:
        return None
    target = float(os.environ.get("SPARK_GRAFT_SHUFFLE_TARGET_MB", "1"))
    return max(4, min(-(-total // int(target * 1024 * 1024)), cpus))


def get_spark(
    app_name: str = "noaa-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_configs`` lets measurement tooling (e.g. the event-log
    configs ``perfbench/run.py --trace 1`` needs) ride THIS factory instead of
    hand-assembling a builder that silently misses the engine's
    session defaults (r15: the profiler's own builder lacked the
    codegen-cache sizing and fast spark.local.dir, so its walls
    disagreed with bench.py by ~2x). Applied last, so an explicit
    entry can also override a default for an experiment."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    is_local = master.startswith("local")
    aqe = (not is_local) or os.environ.get("SPARK_GRAFT_AQE") == "1"
    shuffle = shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS")
    if shuffle is None and master.startswith("local["):
        # plain local[...] only: a cluster profile's static width is
        # an AQE-coalesced ceiling and must not be lowered to a toy
        # lake's derived value (and bench_cluster pins its widths
        # explicitly per config)
        shuffle = _derived_shuffle_partitions(int(cpus))
    shuffle = str(shuffle or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Only meaningful off local[*] (there the driver heap IS the
        # executor heap): in local-cluster / standalone the master
        # string's per-worker figure is worker CAPACITY, and executors
        # default to a 1 GB heap unless this is set — small enough to
        # OOM any dense-graph or wide-aggregation entry (measured:
        # the 425M-edge CC composite dies in the scan stages at 1 GB).
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_EXECUTOR_MEMORY", "6g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Generated-class cache (static conf, JVM-global LRU; default
        # 100). A registry-sized workload compiles far more than 100
        # codegen units (each query holds several WholeStageCodegen +
        # expression units), so at the default every re-execution of
        # a prepared plan misses the cache and pays a synchronous
        # janino compile plus a fresh C2 JIT of the new class — r15
        # measured 18 interleaved headline queries at 11.7 s vs 7.0 s
        # with the cache sized to the working set (GC delta nil, JIT
        # time -4x at the timed minima). Driver-side and
        # scale-independent: a cluster driver serving a real query
        # mix thrashes the same LRU. Entries are source+class (KBs);
        # 5000 bounds the cache at low hundreds of MB worst-case.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_CODEGEN_CACHE_ENTRIES", "5000"),
        )
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_configs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        _ship_package(spark)
    return spark
