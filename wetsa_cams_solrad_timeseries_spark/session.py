"""SparkSession factory.

Pins the configuration the engine's semantics depend on (SURVEY.md §4.3):

- ``spark.sql.session.timeZone=UTC`` — the reference localizes every
  timestamp to UTC before any join/aggregation
  (reference: code/solrad-compare.py:23-28, code/get-cams-solrad-ts.py:90);
  with UTC pinned, Spark timestamps collate identically to the DuckDB
  oracle's naive-UTC timestamps.
- ``spark.sql.ansi.enabled=false`` — pandas' ``errors='coerce'`` parse
  (reference: code/compile-solrad.py:113) and NaN-on-0-division
  (reference: code/solrad-compare.py:91) map to Spark's non-ANSI
  null-on-failure semantics. Spark 4 defaults ANSI on, so this must be
  explicit.
- AQE on (+ coalesce partitions + skew join): the scale story at 100 TB —
  runtime re-planning of shuffle partition counts, broadcast demotion, and
  skew splitting.
- Arrow on: every driver-side collect (NetCDF export, plotting layer) and
  every Pandas UDF crosses the JVM/Python boundary in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Semantics-critical settings: these change query RESULTS, not just speed.
SEMANTIC_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark has no
    # native type for. Read the raw int64 nanos and truncate to micros in
    # the catalog (catalog.table), matching DuckDB's nanos→micros
    # truncation so both engines see identical instants.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Core count for local[N] and the shuffle partitions: SPARK_GRAFT_CPUS,
# else the cores this process may run on.
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# Performance settings, sized for local[N] testing but chosen to be the
# right defaults on a real cluster too (AQE re-sizes at runtime).
PERF_CONF: dict[str, str] = {
    # local[N] runs the whole engine in the driver JVM; the 1g default
    # heap causes GC churn across a multi-query session. Only effective
    # when THIS factory creates the JVM (ignored on attach).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local runs: match core count, not the 200 default. On a cluster this
    # is a starting point that AQE coalesces/splits as needed.
    "spark.sql.shuffle.partitions": CPUS,
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def _default_warehouse() -> str:
    """Managed-table warehouse (bucketed tables) outside the repo tree,
    PER-PROCESS by default: the persisted index tables (q193/q197/
    q201/q207/q210 families) assume a single writer, and two engine
    processes sharing one warehouse (pytest + oracle gate, observed in
    the round-9 adjudication) can race a sweep/overwrite against a
    live reader. A pid suffix removes the shared resource entirely —
    each process builds its own index generation, which the lazy
    build-if-absent paths already handle. Export SPARK_GRAFT_WAREHOUSE
    to opt into a SHARED warehouse; that restores cross-process table
    reuse and with it the single-writer contract (see SCALING.md).
    Orphans from crashed runs are swept at session start (get_spark).

    Resolved LAZILY (round-10 ADVICE): baking os.getpid() into
    module-level conf at import time gives every fork child (pytest-
    xdist, multiprocessing) the PARENT-pid-named warehouse — restoring
    the shared-writer race and letting a sibling's liveness sweep rmtree
    it once the parent exits. Calling getpid() here, at get_spark time,
    names the warehouse after the process that actually owns the JVM."""
    return os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", f"/tmp/spark-graft-warehouse-{os.getpid()}"
    )


def _sweep_dead_warehouses() -> None:
    """Remove per-pid warehouse dirs whose owner process is gone. The pid
    is IN the dirname, so liveness is direct; a recycled pid matching an
    unrelated live process just defers the sweep one round. Only the
    default per-pid pattern is swept — an explicit SPARK_GRAFT_WAREHOUSE
    is user-managed."""
    import glob
    import re
    import shutil

    for d in glob.glob("/tmp/spark-graft-warehouse-*"):
        m = re.fullmatch(r".*/spark-graft-warehouse-(\d+)", d)
        if not m or m.group(1) == str(os.getpid()):
            continue
        if os.path.exists(f"/proc/{m.group(1)}"):
            continue
        shutil.rmtree(d, ignore_errors=True)


_SHIPPED_SESSIONS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers regardless
    of the driver process's cwd.

    Worker-side functions that live at module level (streaming state
    kernels) or are referenced from kernels (``blocked.pair_masks``) are
    cloudpickled BY REFERENCE — the worker must import this package.
    Workers inherit the JVM's environment, not the driver's ``sys.path``
    mutations, so a driver launched outside /root/repo (the spark-graft
    driver's harness may run anywhere) gets ImportError in any
    applyInPandas/mapInPandas task. ``addPyFile`` ships a zip of the
    package and prepends it to every worker's sys.path — the canonical
    fix, also correct on a real cluster."""
    # Key on applicationId, not id(spark): a stopped+GC'd session's id can
    # be reused by a NEW SparkContext, which would silently skip addPyFile
    # and break worker imports. applicationId is unique per context.
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    import atexit
    import shutil
    import tempfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    staging = os.path.join(tempfile.gettempdir(), "wetsa_cams_pkg")
    # Per-process zip name: concurrent drivers (pytest + bench) would
    # otherwise race writing one path while another addPyFile copies it.
    zip_base = os.path.join(staging, f"wetsa_cams_pkg_{os.getpid()}")
    os.makedirs(staging, exist_ok=True)
    zip_path = shutil.make_archive(
        zip_base,
        "zip",
        root_dir=pkg_root,
        base_dir="wetsa_cams_solrad_timeseries_spark",
    )
    def _cleanup(p: str = zip_path) -> None:
        try:
            os.remove(p)
        except OSError:
            pass

    atexit.register(_cleanup)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)
    warm_collation(spark)


_WARMED_SESSIONS: set[str] = set()


def warm_collation(spark: SparkSession) -> None:
    """Pre-initialize Spark 4's ICU collation machinery off the query
    path, in a single background task.

    Spark 4 routes case mapping (lower/upper/initcap — even for plain
    UTF8_BINARY; ``spark.sql.icu.caseMappings.enabled`` defaults true)
    through ``CollationAwareUTF8String``, whose static initializer loads
    ICU's character tables. That class-init is expensive in this
    container (~5-10 s single-threaded), and when the FIRST expression
    to touch it is an interpreted generator running on all 32 task
    threads at once, the threads serialize on the class-init monitor
    and the one-time cost balloons to minutes (measured: q33's shingle
    stage, 224-429 s cold vs ~6 s after init; thread dumps show every
    worker parked on the CollationAwareUTF8String initialization
    monitor). Running one 1-row, 1-partition job that evaluates a
    non-foldable lower/upper/initcap forces the init exactly once,
    single-threaded, concurrently with whatever the session does first
    — a background thread so sessions that never touch case mapping
    don't wait on it. In local mode driver==executor JVM, so one task
    warms everything; on a real cluster each executor JVM warms on its
    first case-mapping task regardless (this removes only the
    all-threads-collide worst case, which is also the local-mode one).
    """
    key = spark.sparkContext.applicationId
    if key in _WARMED_SESSIONS:
        return
    _WARMED_SESSIONS.add(key)

    def _run() -> None:
        try:
            from pyspark.sql import functions as F

            s = F.concat(F.lit("Icu-Warm-"), F.col("id").cast("string"))
            spark.range(1, numPartitions=1).select(
                F.lower(s).alias("l"),
                F.upper(s).alias("u"),
                F.initcap(s).alias("t"),
                # the interpreted (non-codegen) path too: HOF lambdas
                # always evaluate via Expression.eval
                F.transform(F.array(s), lambda x: F.lower(x)).alias("i"),
            ).collect()
        except Exception:  # noqa: BLE001 — best-effort warmup only
            pass

    import threading

    threading.Thread(target=_run, name="graft-collation-warm", daemon=True).start()


def get_spark(
    app_name: str = "wetsa-cams-solrad-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[CPUS]`` so tests and the bench
    harness share one code path; on a real cluster, pass ``None`` and
    set the master via spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # Master resolution order: explicit arg > SPARK_MASTER env (its
        # VALUE is used — previously it was only probed for existence,
        # so `SPARK_MASTER=spark://host python bench.py` failed with "a
        # master URL must be set" while spark-submit's --master was
        # silently OVERRIDDEN to local) > whatever the launcher
        # configured (spark-submit signals itself via
        # PYSPARK_SUBMIT_ARGS; setting builder.master() there would
        # stomp --master) > local[N] for plain `python` invocations.
        master = os.environ.get("SPARK_MASTER")
        if master is None and "PYSPARK_SUBMIT_ARGS" not in os.environ:
            master = f"local[{CPUS}]"
    if master:
        builder = builder.master(master)
    conf = {
        **SEMANTIC_CONF,
        **PERF_CONF,
        "spark.sql.warehouse.dir": _default_warehouse(),
        **(extra_conf or {}),
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session (e.g. the
    # driver's): builder config is IGNORED on attach, so re-assert the
    # semantics-critical conf AND the caller's extra_conf on the live
    # session (static confs that cannot change post-start are skipped
    # with a stderr note rather than silently dropped).
    for k, v in SEMANTIC_CONF.items():
        spark.conf.set(k, v)
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — static conf on a live session
            import sys as _sys

            print(
                f"# get_spark: conf {k!r} is static and the session "
                "already exists; value not applied",
                file=_sys.stderr,
            )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    # Pin the absolute warehouse path NOW, while the cwd is still the one
    # Spark resolved a relative warehouse conf against — later claims
    # then sweep/remove the directory Spark actually writes to even if
    # the process chdir'd in between (_artifacts.resolve_warehouse).
    from wetsa_cams_solrad_timeseries_spark._artifacts import (
        register_cleanup,
        resolve_warehouse,
    )

    _sweep_dead_warehouses()
    wh = resolve_warehouse(spark)
    # Our own per-pid warehouse is process-scoped scrap once we exit —
    # register it for atexit removal (no-op for a user-managed shared
    # warehouse, which is not per-pid-named and is swept only by pid
    # liveness above).
    if "SPARK_GRAFT_WAREHOUSE" not in os.environ and wh == (
        f"/tmp/spark-graft-warehouse-{os.getpid()}"
    ):
        register_cleanup(wh)
    return spark
