"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _default_driver_mem() -> str:
    """One third of physical RAM, clamped to [4g, 48g] — big enough that
    local-mode executors (which share the driver JVM) survive sf-scale
    shuffles/aggregations, small enough to leave room for Python workers
    and the OS page cache."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page = os.sysconf("SC_PAGE_SIZE")
        gib = (pages * page) // (1 << 30)
    except (ValueError, OSError, AttributeError):
        gib = 16
    return f"{max(4, min(48, gib // 3))}g"


def spread_small(df):
    """Round-robin repartition a SMALL frame up to the session's
    parallelism. Compute-heavy single-pass operators (per-row cosine /
    mask expressions) otherwise run on the scan's split count, and a
    small parquet input bin-packs into a handful of splits
    (spark.sql.files.openCostInBytes), leaving most cores idle. Only
    fires when the current partition count is below parallelism, so a
    genuinely large input — already many splits — is never reshuffled."""
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            return df.repartition(par)
    except Exception:
        pass
    return df


def _slices(spark: SparkSession, items: list, n_tasks: int | None) -> list:
    """Deal a small driver-side list round-robin into ``min(len(items),
    n_tasks or defaultParallelism)`` slices (at least one)."""
    n = max(1, min(len(items), n_tasks or spark.sparkContext.defaultParallelism))
    return [items[i::n] for i in range(n)]


def slice_tasks(spark: SparkSession, items: list, fn, schema: str,
                n_tasks: int | None = None) -> DataFrame:
    """File-granular tasks, data-sized output: deal a small driver-side
    list (segment files, staged shards) into slices (``_slices``) and run
    ``fn(slice) -> iterable of pandas frames`` once per slice, one task
    each, in a single ``mapInPandas`` over ``spark.range``. Tasks read
    their own files (IndexSearcher slices + searchLeaf,
    IndexSearcher.java:323-341,760): no input scan, no Exchange for AQE to
    coalesce, no JVM->Python copy of the data."""
    slices = _slices(spark, items, n_tasks)
    n = len(slices)

    def run(batches):
        for pdf in batches:
            for i in pdf["id"]:
                yield from fn(slices[int(i)])

    return spark.range(0, n, 1, n).mapInPandas(run, schema)


def gather_slices(spark: SparkSession, items: list, fn) -> list:
    """File-granular tasks, bounded output: the same slices as
    ``slice_tasks``, but ``fn(slice) -> one small picklable value`` runs in
    one Python RDD job (one stage, one task per slice) and the values come
    back to the driver in slice order — the per-slice collectors whose
    results the caller merges (IndexSearcher.search over slices +
    TopDocs.merge). No SQL plan is built, so there is no schema to parse
    and no operator between the tasks and the driver."""
    slices = _slices(spark, items, None)
    n = len(slices)
    rdd = spark.sparkContext.parallelize(range(n), n)
    return rdd.mapPartitions(lambda ids: [fn(slices[i]) for i in ids]).collect()


# Linux sun_path holds 107 bytes and Spark names each socket
# "<dir>/.<uuid>.sock", 43 bytes after the directory, so the directory may
# be 64 bytes long; Spark's own check on spark.python.unix.domain.socket.dir
# (run when the first Python task starts) allows at most 61.
_SOCK_DIR_MAX = 61
_sock_dir: str | None = None


def _socket_dir() -> str:
    """This process's private directory for the Python workers' Unix domain
    sockets, ``lsuds-<pid>-XXXXXXXX``, made on first use and removed at exit
    (a process that dies without ``spark.stop()`` would otherwise leave its
    ``.<uuid>.sock`` files behind). Under the temp directory when the path
    fits, else under /tmp: in a long TMPDIR / java.io.tmpdir, SparkContext
    start-up fails with "AF_UNIX path too long", and a directory of 62-64
    characters fails the first Python task on Spark's check. A process
    killed by a signal skips ``atexit``; the next process to make its
    directory in the same place removes such leftovers (_sweep_socket_dirs)."""
    global _sock_dir
    if _sock_dir is None:
        base = tempfile.gettempdir()
        prefix = f"lsuds-{os.getpid()}-"
        # mkdtemp appends 8 random characters to the prefix
        if len(os.path.join(base, prefix)) + 8 > _SOCK_DIR_MAX:
            base = "/tmp"
        _sock_dir = tempfile.mkdtemp(prefix=prefix, dir=base)
        atexit.register(shutil.rmtree, _sock_dir, True)
        _sweep_socket_dirs(base)
    return _sock_dir


def _sweep_socket_dirs(base: str) -> None:
    """Remove every ``lsuds-<pid>-*`` directory in ``base`` that this user
    owns and whose process no longer runs."""
    uid = os.getuid()
    for name in os.listdir(base):
        tag, _, rest = name.partition("-")
        pid, sep, _ = rest.partition("-")
        if tag != "lsuds" or not sep or not pid.isdigit():
            continue
        path = os.path.join(base, name)
        try:
            st = os.lstat(path)
            if not stat.S_ISDIR(st.st_mode) or st.st_uid != uid:
                continue
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except OSError:  # gone already, or a live process of another user
            pass


def get_spark(app: str = "lucene_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The session every entry point runs on. The builder chain below sets
    scale defaults (shuffle width, driver heap, split sizes, scratch dir)
    and how Python runs: workers fork from ``lucene_spark.daemon`` and talk
    to the JVM over Unix domain sockets in this process's private
    ``_socket_dir()``."""
    # Python workers inherit this env: keep large numpy/pandas buffers
    # inside the process between tasks instead of munmap/re-fault cycles —
    # with 32 concurrent workers the kernel page-zeroing otherwise
    # dominates (observed 60-80% sys time on the invert stage).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(512 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 * 1024 * 1024))
    # each Spark task is one core; BLAS/OpenMP threading inside workers
    # would oversubscribe (n_workers x n_threads)
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    n = int(cores) if cores.isdigit() else os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # local-mode: the driver heap IS the executor heap. 16g OOM'd the
        # r6 driver bench at sf1.0 (Java heap space + evicted blocks, 3/3
        # repeats); this sandbox has 128 GiB, so default to a third of
        # physical RAM capped at 48g — still parameterised for real
        # clusters via SPARK_GRAFT_DRIVER_MEM (guide §5: fix stability
        # with memory sizing, not by shrinking the work)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # compute-per-byte here (sha256, tokenize) is high: bin-pack file
        # scans into small splits so the scan side parallelizes
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.files.openCostInBytes", "2m")
        # shuffle scratch on the fast storage tier (tmpfs in this sandbox;
        # NVMe on a real cluster). Override with SPARK_GRAFT_LOCAL_DIR.
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-tmp"))
        .config("spark.ui.enabled", "false")
        # workers fork from lucene_spark.daemon: the stock pyspark daemon
        # plus a gate on CPython < 3.13's per-task zip directory re-reads
        # (~150 ms of every Python task on a 4-core host; daemon.py)
        .config("spark.python.daemon.module", "lucene_spark.daemon")
        # the JVM talks to Python workers, the accumulator server and the
        # local-data servers over Unix domain sockets: Spark sets no
        # TCP_NODELAY on those connections, and over TCP Nagle plus the
        # 40 ms delayed ACK stalled every Python task twice (a no-op task's
        # median ran 63 ms over TCP, 19 ms here, on a 4-core host)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    # s3mock:// scheme for the cluster-shaped smoke test: Spark serves the
    # scheme via a RawLocalFileSystem subclass (tiny committed jar); the
    # pyarrow side-channel resolves the same scheme to an object-store-
    # semantics handler (fsio._ObjectStoreHandler). Real deployments use
    # genuine s3:// roots; this block is inert unless the scheme is used.
    jar = os.path.join(os.path.dirname(__file__), "resources", "s3mock-fs.jar")
    if os.path.exists(jar):
        builder = (
            builder.config("spark.driver.extraClassPath", jar)
            .config("spark.executor.extraClassPath", jar)
            .config("spark.hadoop.fs.s3mock.impl", "org.lucenespark.testfs.S3MockFileSystem")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
