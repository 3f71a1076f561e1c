"""SparkSession construction with scale-appropriate defaults.

The reference sizes itself with row-group/page knobs and I/O coalescing
(reference: convert/convert.go:193-204, cmd/serve.go:112-114).  In Spark the
equivalent levers are AQE, shuffle-partition count, file split sizes and the
vectorized parquet reader — set once here so every entry point agrees.

The session also carries the one compiled JVM kernel, ``tsq_dot``
(``jvm/tsq/Dot.java``): the Spark driver's ``javac`` builds it while the JVM
starts, and ``ADD JAR`` ships it to the executors.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import subprocess
import tempfile
import threading
import weakref
import zipfile
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql.types import DoubleType

_KERNEL_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "jvm", "tsq", "Dot.java")
_kernel_lock = threading.Lock()
_kernel_jar: Future | None = None  # the one build of this process
_kernel_sessions: weakref.WeakSet = weakref.WeakSet()  # tsq_dot registered


def _build_kernel_jar(javac: str) -> str:
    """Compile the kernel against the two Spark jars it needs (Spark 4 runs
    on Java 17+) into a jar in a temp dir removed at exit.  C1-only and the
    serial GC keep javac's CPU off the JVM starting beside it."""
    from pyspark.find_spark_home import _find_spark_home
    out = tempfile.mkdtemp(prefix="tsq-kernel-")
    atexit.register(shutil.rmtree, out, True)
    jars = os.path.join(_find_spark_home(), "jars")
    cp = os.pathsep.join(glob.glob(os.path.join(jars, "spark-sql-api_*.jar"))
                         + glob.glob(os.path.join(jars, "scala-library-*.jar")))
    run = subprocess.run(
        [javac, "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC", "-proc:none",
         "--release", "17", "-encoding", "UTF-8", "-nowarn", "-d", out,
         "-cp", cp, _KERNEL_SRC],
        capture_output=True, text=True)
    if run.returncode != 0:
        raise RuntimeError("javac failed to build the tsq_dot kernel:\n"
                           + run.stderr)
    jar = os.path.join(out, "tsq-kernels.jar")
    with zipfile.ZipFile(jar, "w") as z:
        z.write(os.path.join(out, "tsq", "Dot.class"), "tsq/Dot.class")
    return jar


def _kernel_build() -> Future:
    """The process's kernel jar, built once on a background thread."""
    global _kernel_jar
    with _kernel_lock:
        if _kernel_jar is None:
            javac = shutil.which("javac")
            if javac is None:
                raise RuntimeError(
                    "get_spark needs a JDK on the driver: no javac on PATH to "
                    "build the tsq_dot kernel from " + _KERNEL_SRC)
            pool = ThreadPoolExecutor(1, thread_name_prefix="tsq-kernel-javac")
            _kernel_jar = pool.submit(_build_kernel_jar, javac)
            pool.shutdown(wait=False)
        return _kernel_jar


def register_kernels(spark: SparkSession) -> None:
    """Make ``tsq_dot`` callable in ``spark``: wait for the jar, ``ADD JAR``
    it and register the function, once per session (so a session not built
    by ``get_spark`` can be handed in too)."""
    jar = _kernel_build().result()
    with _kernel_lock:
        if spark not in _kernel_sessions:
            spark.sql(f"ADD JAR '{jar}'")
            spark.udf.registerJavaFunction("tsq_dot", "tsq.Dot", DoubleType())
            _kernel_sessions.add(spark)


def _install_jvm_function_cache() -> None:
    """Memoize PySpark's JVM function-handle lookups (driver latency only).

    ``pyspark.sql.functions`` resolves ``org.apache.spark.sql.functions.<f>``
    through TWO py4j reflection round trips on EVERY call
    (``_get_jvm_function``: JVMView getattr -> JavaClass getattr), i.e. 2 of
    the 3 socket round trips each F.<fn>() costs — ~340 of the ~1240 round
    trips of one compiled PromQL binop query (cProfile, guide §7.3).  The
    resolved JavaMember is a stable handle on the static functions class for
    the lifetime of the py4j GATEWAY: SparkContext._jvm is set once per
    gateway launch and survives plain stop()/restart (bench.py's scale
    rungs), so cached handles stay valid across session restarts because
    the gateway persists — the per-view keying only matters if the gateway
    itself is relaunched in-process, which hands out a fresh JVMView.  The
    cache is a WeakKeyDictionary keyed on the JVMView OBJECT (not its id):
    a dead view's entries die with it, and CPython id reuse can never alias
    a new view onto a dead gateway's handles.
    Query COMPILE latency is serving-path latency for this engine, and this
    touches no plan, no data and no result.  Guarded: any pyspark-internal
    signature drift skips the patch (pinned by tests/test_session.py)."""
    try:
        import weakref

        from pyspark.sql.functions import builtin as _builtin
        orig = _builtin._get_jvm_function
        if getattr(orig, "_tpgs_cached", False):
            return
        caches: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

        def cached(name, sc):
            try:
                cache = caches.get(sc._jvm)
                if cache is None:
                    cache = {}
                    caches[sc._jvm] = cache
            except TypeError:
                # non-weakrefable view (test doubles): no caching
                return orig(name, sc)
            jf = cache.get(name)
            if jf is None:
                jf = orig(name, sc)
                cache[name] = jf
            return jf

        cached._tpgs_cached = True
        cached._tpgs_orig = orig
        _builtin._get_jvm_function = cached
    except Exception:
        pass  # pyspark internals moved: keep the stock (uncached) path


def get_spark(app_name: str = "thanos_parquet_gateway_spark",
              extra_conf: dict | None = None) -> SparkSession:
    _kernel_build()  # javac overlaps the JVM start
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # match local cores; on a 1000-executor cluster this would be set to
        # ~2-3x total cores by the deployment, AQE coalesces the rest.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); Spark's TimestampType is
        # micros — read nanos as long and normalize in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # label-map rebuilds (label_replace, group_left include) may produce
        # duplicate keys; PromQL semantics = last write wins
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # broadcast by SIZE, never by hint, for SF-proportional tables:
        # Spark's 10 MB default predates 100+ GiB executors — 64 MB keeps
        # mid-size dims (e.g. TPC-H customer at sf1, ~30 MB) on the
        # broadcast path while a multi-TB table at 100 TB scale still
        # correctly shuffle-joins.  AQE re-checks with runtime sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "67108864")
        # overwrite only the partitions present in the written data — makes
        # day-incremental conversion (cli.py convert) safe against the
        # stream/date-partitioned table
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4's error-context enrichment walks the Python stack and
        # makes one extra JVM round trip (PySparkCurrentOrigin) for EVERY
        # DataFrame/Column API call — profiling showed ~600 such calls per
        # compiled query, pure driver-side latency.  Query compile time is
        # serving latency here, so trade the error call-site decoration away.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _install_jvm_function_cache()
    register_kernels(spark)
    return spark
