"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make ``llm_rankers_spark`` importable on executors.

    Local mode inherits the driver cwd, but any other launch (different
    cwd, a real cluster) needs the package shipped. This is exactly what
    ``spark-submit --py-files llm_rankers_spark.zip`` does (north rule);
    doing it programmatically keeps library use self-contained.
    """
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # key the archive by a source digest so edits invalidate the cache
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                st = os.stat(os.path.join(root, fn))
                h.update(f"{root}/{fn}:{st.st_mtime_ns}:{st.st_size}".encode())
    zpath = os.path.join(tempfile.gettempdir(), f"llm_rankers_spark_pyfiles_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)


def _warm_session(spark: SparkSession) -> None:
    """Spin up the per-session one-time machinery at SESSION creation, not
    inside the first operator that happens to run (round-6, guide §4.5
    "heavyweight init once" applied at the session boundary):

    - a 1-task-per-core trivial pandas-UDF noop job forks the python worker
      fleet and pays its pandas/pyarrow/numpy imports + Arrow channel setup
      (~3-4 s on 32 cores) exactly once, up front — the long-lived-executor
      model: a production fleet forks and warms workers when the executor
      starts, not inside the first query of every job (the same argument
      bench.py's executor emulation documents for its own warm-up);
    - one 2-row parquet write+read warms the output committer and the
      parquet reader/writer codegen classes (~2 s first use).

    No input data is touched and nothing is cached — this is process
    warm-up, not precomputation. ``LLMRS_WARM_SESSION=0`` disables (e.g.
    for cold-start measurements). Warm-up is best-effort: a failing step
    ends it with one warning naming the step and the exception, and the
    session is still returned."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sc = spark.sparkContext

    def _warm_fn(s):
        return s

    # real class annotations (PEP-563 string hints can't resolve the
    # function-local pandas import)
    _warm_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _warm = F.pandas_udf(_warm_fn, "long")

    def python_workers():
        n = max(sc.defaultParallelism, 1)
        spark.range(0, n, 1, n).select(_warm("id").alias("x")).write.format(
            "noop"
        ).mode("overwrite").save()

    def plan_machinery():
        # one tiny query through each heavyweight plan machinery the
        # engine's operators use — grouped/cogrouped Arrow UDF runners,
        # WindowExec, broadcast hash join — so their first-use class
        # loading/JIT happens here, not inside the first real operator
        g = spark.range(0, 8, 1, 2).withColumn("g", F.col("id") % 2)
        g.groupBy("g").applyInPandas(lambda pdf: pdf, schema="id long, g long").write.format(
            "noop"
        ).mode("overwrite").save()
        g.groupBy("g").cogroup(g.groupBy("g")).applyInPandas(
            lambda lp, rp: lp, schema="id long, g long"
        ).write.format("noop").mode("overwrite").save()
        w = Window.partitionBy("g").orderBy("id")
        small = spark.range(0, 2).withColumnRenamed("id", "g")
        g.withColumn("rn", F.row_number().over(w)).join(
            F.broadcast(small), "g"
        ).write.format("noop").mode("overwrite").save()
        cached = g.persist()
        cached.count()  # InMemoryRelation build/scan machinery
        cached.unpersist()

    def parquet_writer():
        import shutil

        d = tempfile.mkdtemp(prefix="llmrs_warm_")
        try:
            # zstd: the codec the build's checkpoint writes use — its
            # native-library first-use otherwise lands in the first build
            spark.range(0, 2, 1, 1).write.mode("overwrite").option(
                "compression", "zstd"
            ).parquet(d)
            spark.read.parquet(d).count()
        finally:
            shutil.rmtree(d, ignore_errors=True)

    sc.setJobDescription("session warm-up: python workers + parquet writer")
    try:
        for step in (python_workers, plan_machinery, parquet_writer):
            try:
                step()
            except Exception as e:  # best-effort: never fail session creation
                warnings.warn(f"session warm-up step {step.__name__!r} failed: {e!r}", stacklevel=3)
                return
    finally:
        sc.setJobDescription(None)


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: min(32g, half of
    physical RAM). A local-mode driver is the whole engine, and a heap sized
    above physical RAM lets the JVM grow until a swapless host runs out."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    except (AttributeError, OSError, ValueError):
        return "32g"  # no sysconf (non-POSIX host)
    return f"{min(32 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "llm_rankers_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are tuned for the sandbox (``local[N]``) but every knob is the
    one you would set on a real cluster too: AQE on (runtime coalescing +
    skew-join mitigation), Arrow on (every custom operator in this engine is
    a pandas/Arrow UDF), shuffle partitions sized to parallelism instead of
    the 200 default.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Python-worker process environment. Set in os.environ BEFORE the JVM
    # launches (local mode: pyspark.daemon forks from the JVM, which
    # inherits this process's env) and mirrored to spark.executorEnv.* for
    # real clusters. Two independent pathologies these close:
    # - glibc munmap churn: pandas/numpy free >128KB buffers straight back
    #   to the kernel (mmap/munmap per Arrow batch). Every munmap is a TLB
    #   shootdown IPI to every CPU running the process — cheap on bare
    #   metal, brutal on virtualized/oversubscribed hosts where the target
    #   vCPU must be scheduled to ack. Raising the thresholds keeps the
    #   buffers in the heap (measured on the 4×6-core executor emulation:
    #   −26% pages freed, −23% kernel time for the identical build).
    # - BLAS thread oversubscription: numpy's OpenBLAS/OMP pools default to
    #   the node's visible core count PER WORKER — N workers × N threads
    #   on N cores. Spark already owns the parallelism; the worker should
    #   be single-threaded (also shrinks the munmap IPI fanout above).
    _worker_env = {
        "MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "268435456",
        # route Arrow buffers through the (now churn-free) glibc heap
        # instead of the bundled jemalloc, whose timed decay purge gives
        # the pages back to the kernel between batches
        "ARROW_DEFAULT_MEMORY_POOL": "system",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    # LLMRS_HOST_ENV_HYGIENE=0 skips the host-process os.environ mutation
    # (round-5 ADVICE: a host application embedding this library may not
    # want its own driver-side BLAS/allocator behavior changed). Local-mode
    # python workers fork from the JVM, which inherits this process's env,
    # so the default stays on; real clusters get the same values via the
    # spark.executorEnv.* confs below either way.
    if os.environ.get("LLMRS_HOST_ENV_HYGIENE", "1") != "0":
        for k, v in _worker_env.items():
            os.environ.setdefault(k, v)
    if shuffle_partitions is None:
        # local[N] → N; on a cluster you'd size this to 2-3× total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("LLMRS_UDS", "1") != "0":
        # Route the JVM↔python-worker Arrow channel over Unix domain sockets
        # instead of loopback TCP (Spark 4.1, SPARK-51338). The channel is
        # always node-local, so UDS is semantically identical on a real
        # cluster; it skips the TCP stack (checksums, netfilter, socket
        # wakeup path). Measured here: the tokenize stage's kernel time
        # under 4 concurrent JVMs drops from ~60% of all pinned cores to
        # <10% — loopback tcp_recvmsg wakeups were serializing the
        # emulated executors (BENCH/BASELINE.md round-5 notes).
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true")
    for k, v in _worker_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    if os.environ.get("LLMRS_WARM_SESSION", "1") != "0" and not getattr(
        spark, "_llmrs_warmed", False
    ):
        _warm_session(spark)
        spark._llmrs_warmed = True
    return spark
