"""Pin the session-level JVM function-handle cache and the tsq_dot kernel
registration (session.py).

The cache rides on a PRIVATE pyspark internal
(pyspark.sql.functions.builtin._get_jvm_function), so these tests pin both
the install and the graceful-skip contract: if pyspark moves the hook, the
install must silently fall back to the stock path, never break F.<fn>().
"""
from __future__ import annotations

from pyspark.sql import functions as F


def test_function_cache_installed_and_equivalent(spark):
    from pyspark.sql.functions import builtin as _builtin
    fn = _builtin._get_jvm_function
    # get_spark installed the memoizing wrapper exactly once
    assert getattr(fn, "_tpgs_cached", False)
    assert not getattr(fn._tpgs_orig, "_tpgs_cached", False)
    sc = spark.sparkContext
    # cache hit: same resolved JavaMember object for repeated lookups,
    # and it is the SAME member the stock path resolves
    a = fn("upper", sc)
    b = fn("upper", sc)
    assert a is b
    stock = fn._tpgs_orig("upper", sc)
    # JavaMember equality isn't identity across resolutions; compare the
    # behavior: both handles build the same Column expression
    assert str(a(F.lit("x")._jc)) == str(stock(F.lit("x")._jc))


def test_function_cache_keyed_per_jvm(spark):
    """A different JVMView id must miss the cache (session-restart safety:
    bench.py stops and restarts the session between scale rungs — stale
    handles from a dead gateway must never be served to a new one)."""
    from pyspark.sql.functions import builtin as _builtin
    fn = _builtin._get_jvm_function
    sc = spark.sparkContext
    fn("lower", sc)

    class FakeSC:  # same gateway, different ._jvm identity => cache miss
        _jvm = object()
    # the miss path calls the stock resolver with our fake sc, which has no
    # real JVM view — the orig raises; that proves the key includes the view
    try:
        fn("lower", FakeSC())
        missed = False
    except Exception:
        missed = True
    assert missed


def test_functions_still_work_end_to_end(spark):
    df = spark.range(3).select(F.sum("id").alias("s"),
                               F.upper(F.lit("ab")).alias("u"))
    row = df.collect()[0]
    assert row.s == 3 and row.u == "AB"


def _child_commands(pid: int) -> list[str]:
    """Command names of the live child processes of ``pid`` (Linux /proc)."""
    import os
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue  # exited while we looked
        if int(st[st.rindex(")") + 2:].split()[1]) == pid:
            out.append(st[st.index("(") + 1:st.rindex(")")])
    return out


def test_kernel_registered_once_per_process(spark, monkeypatch):
    import os
    import threading

    import pytest

    from thanos_parquet_gateway_spark import get_spark, session

    row = spark.sql("SELECT tsq_dot(array(1.0D, 2.0D), "
                    "array(3.0D, 4.0D)) AS d").first()
    assert row.d == 11.0
    calls = []
    monkeypatch.setattr(session, "_build_kernel_jar",
                        lambda *a: calls.append("javac"))
    monkeypatch.setattr(type(spark.udf), "registerJavaFunction",
                        lambda *a, **k: calls.append("register"))
    assert get_spark("tests") is spark
    assert calls == []
    # the build thread is done and left no javac behind
    assert session._kernel_jar.done()
    assert not any(t.name.startswith("tsq-kernel-javac")
                   for t in threading.enumerate())
    if not os.path.isdir("/proc"):
        pytest.skip("no /proc to list child processes")
    assert "javac" not in _child_commands(os.getpid())


def test_missing_javac_names_the_requirement(monkeypatch):
    import pytest

    from thanos_parquet_gateway_spark import session

    monkeypatch.setattr(session, "_kernel_jar", None)  # no build yet
    monkeypatch.setenv("PATH", "")
    with pytest.raises(RuntimeError, match="JDK.*javac"):
        session._kernel_build()
