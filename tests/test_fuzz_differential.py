"""Randomized DIFFERENTIAL fuzzing against an independent oracle — the
analogue of the reference's promqlsmith differential fuzz
(db/db_test.go:1129-1205, parquet result must equal TSDB result).

A seeded generator draws random queries from template families; every
template emits BOTH the PromQL string and an independently-written DuckDB
SQL equivalent over the same corpus.  The Spark engine result must match
the DuckDB result (1e-9 relative).  Unlike the metamorphic suite
(test_fuzz_metamorphic.py), a systematic engine-wide bias cannot pass here:
the expectation comes from a different query engine.
"""

from __future__ import annotations

import math
import os
import random

import pytest

from tests.conftest import make_samples

S = 1000
LOOKBACK = 300_000

METRICS = ("m0", "m1", "m2")
JOBS = ("a", "b")
INSTS = ("1", "2", "3")

# (promql matcher fragment, sql predicate) — all series carry both labels,
# so missing-label rules don't come into play here
MATCHERS = [
    ("", "TRUE"),
    ('job="a"', "job = 'a'"),
    ('job!="b"', "job <> 'b'"),
    ('inst=~"[12]"', "regexp_full_match(inst, '[12]')"),
    ('inst!~"3"', "NOT regexp_full_match(inst, '3')"),
    ('job="a", inst!="2"', "job = 'a' AND inst <> '2'"),
]

AGGS = [  # (promql op, sql aggregate over column v)
    ("sum", "sum(v)"),
    ("min", "min(v)"),
    ("max", "max(v)"),
    ("avg", "avg(v)"),
    ("count", "CAST(count(*) AS DOUBLE)"),
    ("stddev", "stddev_pop(v)"),
    ("stdvar", "var_pop(v)"),
]

OVER_TIME = [  # (promql fn, sql aggregate over (ts, value) window rows)
    ("sum_over_time", "sum(value)"),
    ("avg_over_time", "avg(value)"),
    ("min_over_time", "min(value)"),
    ("max_over_time", "max(value)"),
    ("count_over_time", "CAST(count(*) AS DOUBLE)"),
    ("last_over_time", "arg_max(value, ts)"),
    ("stddev_over_time", "stddev_pop(value)"),
    ("stdvar_over_time", "var_pop(value)"),
]

WINDOWS = [30, 50, 100, 120]  # seconds


@pytest.fixture(scope="module")
def corpus(spark):
    """Seeded random corpus: 3 metrics x 2 jobs x 3 insts, 20 samples each
    at 10s spacing, counter-ish with resets, NaN-free."""
    rng = random.Random(20240813)
    rows = []
    for metric in METRICS:
        for job in JOBS:
            for inst in INSTS:
                v = 0.0
                for i in range(20):
                    if rng.random() < 0.08:
                        v = rng.uniform(0, 100)
                    else:
                        v += rng.uniform(0.001, 5)
                    rows.append(({"__name__": metric, "job": job,
                                  "inst": inst}, i * 10 * S, round(v, 6)))
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=LOOKBACK,
                       deterministic=True)

    import duckdb
    import pandas as pd
    con = duckdb.connect()
    pdf = pd.DataFrame(
        [(lbl["__name__"], lbl["job"], lbl["inst"], ts, v)
         for lbl, ts, v in rows],
        columns=["name", "job", "inst", "ts", "value"])
    con.register("samples", pdf)
    return eng, con


def _sel_sql(metric: str, pred: str, t: int) -> str:
    """Instant vector with 5m lookback: latest sample per series in
    (t-lb, t]."""
    return f"""
    SELECT job, inst, arg_max(value, ts) AS v
    FROM samples
    WHERE name = '{metric}' AND {pred}
      AND ts > {t - LOOKBACK} AND ts <= {t}
    GROUP BY job, inst"""


def _win_sql(metric: str, pred: str, t: int, w_s: int) -> str:
    """All samples per series in the range window (t-w, t]."""
    return f"""
    SELECT job, inst, ts, value
    FROM samples
    WHERE name = '{metric}' AND {pred}
      AND ts > {t - w_s * 1000} AND ts <= {t}"""


def _rate_sql(metric: str, pred: str, t: int, w_s: int, kind: str) -> str:
    """extrapolatedRate in SQL: reset-corrected delta + Prometheus boundary
    extrapolation (the engine's boundary math is functions.py
    _extrap_factor; reference semantics from Prometheus
    extrapolatedRate)."""
    counter = kind in ("rate", "increase")
    corr = ("sum(CASE WHEN value < pv THEN pv ELSE 0 END)" if counter
            else "0")
    zero_clamp = """
        CASE WHEN delta > 0 AND first_v >= 0
                  AND sampled * first_v / delta < dur_start1
             THEN sampled * first_v / delta ELSE dur_start1 END""" if counter \
        else "dur_start1"
    per_s = f" / {w_s}.0" if kind == "rate" else ""
    return f"""
    WITH w AS (
        SELECT job, inst, ts, value,
               lag(value) OVER (PARTITION BY job, inst ORDER BY ts) AS pv
        FROM ({_win_sql(metric, pred, t, w_s)})
    ),
    agg AS (
        SELECT job, inst,
               arg_min(value, ts) AS first_v,
               arg_max(value, ts) - arg_min(value, ts) + {corr} AS delta,
               (min(ts) - {t - w_s * 1000}) / 1000.0 AS dur_start,
               ({t} - max(ts)) / 1000.0 AS dur_end,
               (max(ts) - min(ts)) / 1000.0 AS sampled,
               CAST(count(*) AS DOUBLE) AS n
        FROM w GROUP BY job, inst HAVING count(*) >= 2
    ),
    ex AS (
        SELECT job, inst, delta, sampled, dur_end, first_v,
               sampled / (n - 1) * 1.1 AS thresh,
               sampled / (n - 1) / 2 AS half,
               CASE WHEN dur_start >= sampled / (n - 1) * 1.1
                    THEN sampled / (n - 1) / 2 ELSE dur_start END AS dur_start1
        FROM agg
    )
    SELECT job, inst,
           delta * ((sampled + ({zero_clamp})
                     + CASE WHEN dur_end >= thresh THEN half ELSE dur_end END)
                    / sampled){per_s} AS v
    FROM ex"""


def _shape_selector(rng, t):
    metric = rng.choice(METRICS)
    pm, sql = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    return sel, f"SELECT job, inst, v FROM ({_sel_sql(metric, sql, t)})"


def _shape_agg(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    op, sqlagg = rng.choice(AGGS)
    grouping = rng.choice([None, "job", "inst"])
    base = _sel_sql(metric, sqlp, t)
    if grouping:
        return (f"{op} by ({grouping}) ({sel})",
                f"SELECT {grouping}, {sqlagg} AS v FROM ({base}) "
                f"GROUP BY {grouping}")
    return f"{op}({sel})", f"SELECT {sqlagg} AS v FROM ({base})"


def _shape_quantile(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    q = round(rng.uniform(0.05, 0.95), 2)
    base = _sel_sql(metric, sqlp, t)
    return (f"quantile({q}, {sel})",
            f"SELECT quantile_cont(v, {q}) AS v FROM ({base})")


def _shape_arith(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    c = round(rng.uniform(0.5, 3), 3)
    d = round(rng.uniform(-10, 10), 3)
    base = _sel_sql(metric, sqlp, t)
    return (f"{sel} * {c} + {d}",
            f"SELECT job, inst, v * {c} + {d} AS v FROM ({base})")


def _shape_cmp_filter(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    thr = round(rng.uniform(5, 80), 2)
    op, sop = rng.choice([(">", ">"), ("<", "<"), (">=", ">="), ("<=", "<=")])
    base = _sel_sql(metric, sqlp, t)
    return (f"{sel} {op} {thr}",
            f"SELECT job, inst, v FROM ({base}) WHERE v {sop} {thr}")


def _shape_over_time(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlagg = rng.choice(OVER_TIME)
    w = rng.choice(WINDOWS)
    base = _win_sql(metric, sqlp, t, w)
    return (f"{fn}({sel}[{w}s])",
            f"SELECT job, inst, {sqlagg} AS v FROM ({base}) "
            f"GROUP BY job, inst")


def _shape_ts_of(rng, t):
    """ts_of_{max,min,last}_over_time: timestamp (seconds) of the window
    extreme; tied extremes resolve to the LAST occurrence, which the SQL
    pins with a (value DESC|ASC, ts DESC) ranking."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn = rng.choice(["ts_of_max_over_time", "ts_of_min_over_time",
                     "ts_of_last_over_time", "ts_of_first_over_time"])
    w = rng.choice(WINDOWS)
    base = _win_sql(metric, sqlp, t, w)
    if fn in ("ts_of_last_over_time", "ts_of_first_over_time"):
        ext = "max" if fn == "ts_of_last_over_time" else "min"
        inner = f"SELECT job, inst, {ext}(ts) / 1000.0 AS v FROM ({base}) " \
                f"GROUP BY job, inst"
    else:
        order = "value DESC" if fn == "ts_of_max_over_time" else "value ASC"
        inner = f"""
        SELECT job, inst, max(CASE WHEN rn = 1 THEN ts END) / 1000.0 AS v
        FROM (SELECT job, inst, ts,
                     row_number() OVER (PARTITION BY job, inst
                                        ORDER BY {order}, ts DESC) AS rn
              FROM ({base}))
        GROUP BY job, inst"""
    return f"{fn}({sel}[{w}s])", inner


def _shape_duration_expr(rng, t):
    """The same over_time window spelled as a duration expression — fuzzes
    the parse-time arithmetic fold (sum/half/double/modulo spellings)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlagg = rng.choice(OVER_TIME)
    w = rng.choice(WINDOWS)
    spelling = rng.choice([
        f"{w // 2}s+{w - w // 2}s",
        f"2*{w}s/2",
        f"{2 * w}s/2",
        f"({w}s)",
        f"{3 * w}s%{2 * w}s" if w else f"{w}s",   # 3w mod 2w = w
    ])
    base = _win_sql(metric, sqlp, t, w)
    return (f"{fn}({sel}[{spelling}])",
            f"SELECT job, inst, {sqlagg} AS v FROM ({base}) "
            f"GROUP BY job, inst")


def _shape_rate(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    kind = rng.choice(["rate", "increase", "delta"])
    w = rng.choice(WINDOWS)
    return (f"{kind}({sel}[{w}s])",
            _rate_sql(metric, sqlp, t, w, kind))


def _shape_agg_rate(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    w = rng.choice(WINDOWS)
    op, sqlagg = rng.choice(AGGS[:5])  # sum..count over rate
    return (f"{op}(rate({sel}[{w}s]))",
            f"SELECT {sqlagg} AS v FROM "
            f"({_rate_sql(metric, sqlp, t, w, 'rate')})")


def _shape_binop(rng, t):
    metric = rng.choice(METRICS)
    pm1, sql1 = rng.choice(MATCHERS)
    pm2, sql2 = rng.choice(MATCHERS)
    s1 = f"{metric}{{{pm1}}}" if pm1 else metric
    s2 = f"{metric}{{{pm2}}}" if pm2 else metric
    op, sop = rng.choice([("+", "+"), ("-", "-"), ("*", "*")])
    return (f"{s1} {op} {s2}",
            f"SELECT l.job, l.inst, l.v {sop} r.v AS v "
            f"FROM ({_sel_sql(metric, sql1, t)}) l "
            f"JOIN ({_sel_sql(metric, sql2, t)}) r "
            f"USING (job, inst)")


def _shape_setop(rng, t):
    m1, m2 = rng.choice(METRICS), rng.choice(METRICS)
    pm1, sql1 = rng.choice(MATCHERS)
    pm2, sql2 = rng.choice(MATCHERS)
    s1 = f"{m1}{{{pm1}}}" if pm1 else m1
    s2 = f"{m2}{{{pm2}}}" if pm2 else m2
    op = rng.choice(["and", "unless"])
    # default matching includes __name__, so cross-metric set ops need
    # on(job, inst); PromQL keeps the LEFT row's labels/value
    exists = "EXISTS" if op == "and" else "NOT EXISTS"
    promql = f"{s1} {op} on(job, inst) {s2}"
    sql = (f"SELECT l.job, l.inst, l.v FROM ({_sel_sql(m1, sql1, t)}) l "
           f"WHERE {exists} (SELECT 1 FROM ({_sel_sql(m2, sql2, t)}) r "
           f"WHERE r.job = l.job AND r.inst = l.inst)")
    return promql, sql


def _shape_or(rng, t):
    m = rng.choice(METRICS)
    pm1, sql1 = rng.choice(MATCHERS)
    pm2, sql2 = rng.choice(MATCHERS)
    s1 = f"{m}{{{pm1}}}" if pm1 else m
    s2 = f"{m}{{{pm2}}}" if pm2 else m
    # same metric on both sides: full-labelset identity reduces to (job,inst)
    promql = f"{s1} or {s2}"
    sql = (f"WITH l AS ({_sel_sql(m, sql1, t)}), r AS ({_sel_sql(m, sql2, t)}) "
           f"SELECT job, inst, v FROM l UNION ALL "
           f"SELECT job, inst, v FROM r WHERE NOT EXISTS "
           f"(SELECT 1 FROM l WHERE l.job = r.job AND l.inst = r.inst)")
    return promql, sql


def _shape_vcmp(rng, t):
    m = rng.choice(METRICS)
    pm1, sql1 = rng.choice(MATCHERS)
    pm2, sql2 = rng.choice(MATCHERS)
    s1 = f"{m}{{{pm1}}}" if pm1 else m
    s2 = f"{m}{{{pm2}}}" if pm2 else m
    op, sop = rng.choice([(">", ">"), ("<", "<"), (">=", ">="), ("<=", "<=")])
    promql = f"{s1} {op} ignoring() {s2} * 0.9"
    sql = (f"SELECT l.job, l.inst, l.v FROM ({_sel_sql(m, sql1, t)}) l "
           f"JOIN ({_sel_sql(m, sql2, t)}) r USING (job, inst) "
           f"WHERE l.v {sop} r.v * 0.9")
    return promql, sql


def _shape_subquery(rng, t):
    """fn(sel[W:S]): inner instant evaluations at absolute multiples of S
    inside (t-W, t], each with full lookback — the oracle materializes the
    point grid and replays the per-point lookback in SQL."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlagg = rng.choice(OVER_TIME[:6])  # sum..count + last
    w_s = rng.choice([60, 100])
    s_s = rng.choice([10, 30])
    s_ms = s_s * 1000
    p_start = -((-(t - w_s * 1000 + 1)) // s_ms) * s_ms  # ceil to multiple
    p_end = (t // s_ms) * s_ms
    sqlagg = sqlagg.replace("(value)", "(v)").replace("(value, ts)", "(v, p)")
    sql = f"""
    WITH pts AS (SELECT unnest(generate_series({p_start}, {p_end}, {s_ms})) AS p),
    ev AS (
        SELECT pts.p, s.job, s.inst, arg_max(s.value, s.ts) AS v
        FROM pts JOIN samples s
          ON s.ts > pts.p - {LOOKBACK} AND s.ts <= pts.p
        WHERE s.name = '{metric}' AND {sqlp}
        GROUP BY pts.p, s.job, s.inst
    )
    SELECT job, inst, {sqlagg} AS v FROM ev GROUP BY job, inst"""
    return f"{fn}({sel}[{w_s}s:{s_s}s])", sql


def _shape_qot(rng, t):
    """quantile_over_time / mad_over_time — interpolated rank statistics
    (DuckDB quantile_cont/median use the same linear interpolation)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    w = rng.choice(WINDOWS)
    base = _win_sql(metric, sqlp, t, w)
    if rng.random() < 0.5:
        q = round(rng.uniform(0.05, 0.95), 2)
        return (f"quantile_over_time({q}, {sel}[{w}s])",
                f"SELECT job, inst, quantile_cont(value, {q}) AS v "
                f"FROM ({base}) GROUP BY job, inst")
    return (f"mad_over_time({sel}[{w}s])",
            f"""SELECT w.job, w.inst, median(abs(w.value - m.med)) AS v
                FROM ({base}) w
                JOIN (SELECT job, inst, median(value) AS med
                      FROM ({base}) GROUP BY job, inst) m
                  ON w.job = m.job AND w.inst = m.inst
                GROUP BY w.job, w.inst""")


def _shape_limit(rng, t):
    """limitk / limit_ratio: per-group cardinality cap and the exact
    r / r-1 complement-partition property (selection itself is
    unspecified upstream, so those are the checkable contracts)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    base = _sel_sql(metric, sqlp, t)
    if rng.random() < 0.5:
        k = rng.randrange(1, 8)
        g = rng.choice(["job", "inst"])
        return (f"count by ({g}) (limitk by ({g}) ({k}, {sel}))",
                f"SELECT {g}, CAST(LEAST({k}, count(*)) AS DOUBLE) AS v "
                f"FROM ({base}) GROUP BY {g}")
    r = round(rng.uniform(0.1, 0.9), 2)
    return (f"count(limit_ratio({r}, {sel}) "
            f"or limit_ratio({round(r - 1, 2)}, {sel}))",
            f"SELECT CAST(count(*) AS DOUBLE) AS v FROM ({base})")


MATH_FNS = [  # (promql fn, sql expr over column v) — domain-safe on v>0
    ("abs", "abs(v)"),
    ("ceil", "ceil(v)"),
    ("floor", "floor(v)"),
    ("sqrt", "sqrt(v)"),
    ("ln", "ln(v)"),
    ("log2", "log2(v)"),
    ("log10", "log10(v)"),
    ("sgn", "CAST(sign(v) AS DOUBLE)"),
]


def _shape_fns(rng, t):
    """Math functions over an instant vector (corpus values are > 0, so
    ln/log/sqrt stay in-domain)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlexpr = rng.choice(MATH_FNS)
    base = _sel_sql(metric, sqlp, t)
    return (f"{fn}({sel})",
            f"SELECT job, inst, {sqlexpr} AS v FROM ({base})")


def _shape_clamp(rng, t):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    lo = round(rng.uniform(0, 30), 2)
    hi = round(lo + rng.uniform(0, 50), 2)
    base = _sel_sql(metric, sqlp, t)
    which = rng.randrange(3)
    if which == 0:
        return (f"clamp({sel}, {lo}, {hi})",
                f"SELECT job, inst, least(greatest(v, {lo}), {hi}) AS v "
                f"FROM ({base})")
    if which == 1:
        return (f"clamp_min({sel}, {lo})",
                f"SELECT job, inst, greatest(v, {lo}) AS v FROM ({base})")
    return (f"clamp_max({sel}, {hi})",
            f"SELECT job, inst, least(v, {hi}) AS v FROM ({base})")


def _shape_offset(rng, t):
    """offset O on a selector / window fn ≡ the same query at t-O (and the
    window oracle shifts its bounds by O)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    o_s = rng.choice([10, 30, 60])
    te = t - o_s * 1000
    if rng.random() < 0.5:
        return (f"{sel} offset {o_s}s",
                f"SELECT job, inst, v FROM ({_sel_sql(metric, sqlp, te)})")
    fn, sqlagg = rng.choice(OVER_TIME)
    w = rng.choice(WINDOWS)
    base = _win_sql(metric, sqlp, te, w)
    return (f"{fn}({sel}[{w}s] offset {o_s}s)",
            f"SELECT job, inst, {sqlagg} AS v FROM ({base}) "
            f"GROUP BY job, inst")


def _shape_topk_sum(rng, t):
    """sum(topk/bottomk(k, sel)): the sum of the selected values is
    tie-break-independent, so it is a sound cross-engine expectation even
    though the winning series on a tie is not."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    k = rng.randrange(1, 7)
    op, order = rng.choice([("topk", "DESC"), ("bottomk", "ASC")])
    base = _sel_sql(metric, sqlp, t)
    return (f"sum({op}({k}, {sel}))",
            f"SELECT sum(v) AS v FROM (SELECT v FROM ({base}) "
            f"ORDER BY v {order} LIMIT {k})")


def _shape_group_left(rng, t):
    """Many-to-one matching: LHS keeps its full label set, RHS is a
    per-inst aggregate (the classic share-of-total shape)."""
    m1, m2 = rng.choice(METRICS), rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    s1 = f"{m1}{{{pm}}}" if pm else m1
    op, sop = rng.choice([("/", "/"), ("-", "-"), ("+", "+")])
    return (f"{s1} {op} on(inst) group_left sum by (inst) ({m2})",
            f"SELECT l.job, l.inst, l.v {sop} r.v AS v "
            f"FROM ({_sel_sql(m1, sqlp, t)}) l "
            f"JOIN (SELECT inst, sum(v) AS v "
            f"      FROM ({_sel_sql(m2, 'TRUE', t)}) GROUP BY inst) r "
            f"USING (inst)")


def _shape_group_left_ignoring(rng, t):
    """Many-to-one matching spelled via ignoring(): the many side KEEPS
    the ignored label in the result (upstream resultMetric drops
    ignoring-labels only for one-to-one) — regression shape for the
    round-6 label-set fix."""
    m1, m2 = rng.choice(METRICS), rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    s1 = f"{m1}{{{pm}}}" if pm else m1
    op, sop = rng.choice([("/", "/"), ("-", "-"), ("+", "+")])
    return (f"{s1} {op} ignoring(job) group_left "
            f"sum without (job) ({m2})",
            f"SELECT l.job, l.inst, l.v {sop} r.v AS v "
            f"FROM ({_sel_sql(m1, sqlp, t)}) l "
            f"JOIN (SELECT inst, sum(v) AS v "
            f"      FROM ({_sel_sql(m2, 'TRUE', t)}) GROUP BY inst) r "
            f"USING (inst)")


def _shape_irate(rng, t):
    """irate/idelta over the last two samples of the window; irate applies
    the single-step counter-reset rule (last < prev → use last)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    w = rng.choice(WINDOWS)
    if rng.random() < 0.5:
        fn, num = "irate", ("CASE WHEN a.value < b.value THEN a.value "
                            "ELSE a.value - b.value END")
        den = " / ((a.ts - b.ts) / 1000.0)"
    else:
        fn, num, den = "idelta", "a.value - b.value", ""
    base = _win_sql(metric, sqlp, t, w)
    return (f"{fn}({sel}[{w}s])", f"""
    WITH ranked AS (
        SELECT job, inst, ts, value,
               row_number() OVER (PARTITION BY job, inst ORDER BY ts DESC) AS rn
        FROM ({base})
    )
    SELECT a.job, a.inst, ({num}){den} AS v
    FROM ranked a JOIN ranked b
      ON a.job = b.job AND a.inst = b.inst AND a.rn = 1 AND b.rn = 2""")


def _shape_label_ops(rng, t):
    """label_replace / label_join feeding a by-aggregation on the minted
    label — exercises the relabel → regroup pipeline."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    base = _sel_sql(metric, sqlp, t)
    if rng.random() < 0.5:
        return (f'sum by (grp) (label_replace({sel}, "grp", "g-$1", '
                f'"job", "(.+)"))',
                f"SELECT 'g-' || job AS grp, sum(v) AS v FROM ({base}) "
                f"GROUP BY job")
    return (f'sum by (ji) (label_join({sel}, "ji", "-", "job", "inst"))',
            f"SELECT job || '-' || inst AS ji, sum(v) AS v FROM ({base}) "
            f"GROUP BY job, inst")


def _shape_param_scalar(rng, t):
    """Per-step scalar aggregation parameters: k/φ computed from a series
    value via scalar() (non-literal params, upstream engine parameter
    evaluation).  k is derived as a 1..3 value from the scalar to stay in a
    sane range; quantile uses a φ mapped into [0, 1]."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    src = rng.choice(METRICS)
    ksel = f'{src}{{job="a", inst="1"}}'
    ksql = (f"SELECT arg_max(value, ts) FROM samples WHERE name = '{src}' "
            f"AND job = 'a' AND inst = '1' AND ts > {t - LOOKBACK} "
            f"AND ts <= {t}")
    base = _sel_sql(metric, sqlp, t)
    if rng.random() < 0.5:
        op, order = rng.choice([("topk", "DESC"), ("bottomk", "ASC")])
        # k = scalar % 3 + 1 ∈ [1, 4); PromQL truncates the float k toward
        # zero (upstream convertibleToInt64 + int64()), so trunc, not round.
        return (f"sum({op}(scalar({ksel}) % 3 + 1, {sel}))",
                f"""SELECT sum(v) AS v FROM (
                    SELECT v FROM ({base}) ORDER BY v {order}
                    LIMIT (SELECT CAST(trunc(fmod(({ksql}), 3) + 1) AS BIGINT)))""")
    # φ = fractional part of the scalar ∈ [0, 1) via % 1.  DuckDB's
    # quantile_cont only takes constant parameters, so spell out the
    # linear interpolation (identical to PromQL's) by rank.
    return (f"quantile(scalar({ksel}) % 1, {sel})",
            f"""WITH vals AS ({base}),
                ranked AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS r
                           FROM vals),
                st AS (SELECT count(*) AS n, (SELECT fmod(({ksql}), 1)) AS p
                       FROM vals)
                SELECT lo.v + (hi.v - lo.v)
                       * (st.p * (st.n - 1) - floor(st.p * (st.n - 1))) AS v
                FROM st
                JOIN ranked lo
                  ON lo.r = CAST(floor(st.p * (st.n - 1)) AS BIGINT)
                JOIN ranked hi
                  ON hi.r = CAST(ceil(st.p * (st.n - 1)) AS BIGINT)""")


def _shape_at(rng, t):
    """@ modifier: evaluation pinned to an absolute timestamp, optionally
    composed with the same selector evaluated at the query time (upstream
    at_modifier.test semantics: the pin overrides t entirely)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    t2 = rng.randrange(50, 196) * S
    base_pin = _sel_sql(metric, sqlp, t2)
    if rng.random() < 0.5:
        op, sqlagg = rng.choice(AGGS)
        return (f"{op}({sel} @ {t2 // S})",
                f"SELECT {sqlagg} AS v FROM ({base_pin})")
    base_now = _sel_sql(metric, sqlp, t)
    return (f"sum({sel} @ {t2 // S}) + sum({sel})",
            f"""SELECT (SELECT sum(v) FROM ({base_pin}))
                     + (SELECT sum(v) FROM ({base_now})) AS v""")


def _shape_absent(rng, t):
    """absent() over equality-only selectors: empty result → one series
    carrying the equality matchers' labels, value 1; else empty."""
    metric = rng.choice(METRICS)
    job = rng.choice(("a", "b", "nope"))
    inst = rng.choice(("1", "3", "99"))
    base = _sel_sql(metric, f"job = '{job}' AND inst = '{inst}'", t)
    return (f'absent({metric}{{job="{job}", inst="{inst}"}})',
            f"""SELECT '{job}' AS job, '{inst}' AS inst, 1.0 AS v
                WHERE NOT EXISTS (SELECT 1 FROM ({base}))""")


def _shape_changes_resets(rng, t):
    """changes()/resets() over the range window: adjacent-pair counting in
    ts order (NaN-free corpus, so the NaN-transition rules don't bite)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    w = rng.choice(WINDOWS)
    fn, cond = rng.choice([("changes", "value <> pv"),
                           ("resets", "value < pv")])
    return (f"{fn}({sel}[{w}s])", f"""
        SELECT job, inst,
               CAST(sum(CASE WHEN pv IS NOT NULL AND {cond}
                             THEN 1 ELSE 0 END) AS DOUBLE) AS v
        FROM (SELECT job, inst, value,
                     lag(value) OVER (PARTITION BY job, inst
                                      ORDER BY ts) AS pv
              FROM ({_win_sql(metric, sqlp, t, w)}))
        GROUP BY job, inst""")


def _linreg_sql(metric, sqlp, t, w, x0_expr, v_expr):
    """Least-squares with x = (ts - x0)/1e3 seconds, spelled with the same
    cov/var algebra as functions._linreg so rounding stays within _close."""
    return f"""
        WITH w AS ({_win_sql(metric, sqlp, t, w)}),
        f AS (SELECT job, inst, min(ts) AS t0 FROM w GROUP BY job, inst),
        s AS (SELECT w.job, w.inst,
                     sum((w.ts - {x0_expr}) / 1000.0) AS sx,
                     sum(w.value) AS sy,
                     sum((w.ts - {x0_expr}) / 1000.0 * w.value) AS sxy,
                     sum((w.ts - {x0_expr}) / 1000.0
                         * (w.ts - {x0_expr}) / 1000.0) AS sx2,
                     CAST(count(*) AS DOUBLE) AS n
              FROM w JOIN f USING (job, inst)
              GROUP BY w.job, w.inst HAVING count(*) >= 2)
        SELECT job, inst, {v_expr} AS v
        FROM (SELECT job, inst, sy, sx, n,
                     (sxy - sx * sy / n) / (sx2 - sx * sx / n) AS slope
              FROM s)"""


def _shape_deriv(rng, t):
    """deriv (x pinned to the first sample) / predict_linear (x pinned to
    the evaluation timestamp; prediction = intercept + slope*d)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    w = rng.choice(WINDOWS)
    if rng.random() < 0.5:
        return (f"deriv({sel}[{w}s])",
                _linreg_sql(metric, sqlp, t, w, "f.t0", "slope"))
    d = rng.choice((60, 300))
    return (f"predict_linear({sel}[{w}s], {d})",
            _linreg_sql(metric, sqlp, t, w, str(t),
                        f"sy / n - slope * sx / n + slope * {d}"))


SHAPES = [_shape_selector, _shape_agg, _shape_quantile, _shape_arith,
          _shape_cmp_filter, _shape_over_time, _shape_rate, _shape_agg_rate,
          _shape_binop, _shape_setop, _shape_or, _shape_vcmp,
          _shape_subquery, _shape_qot, _shape_limit,
          _shape_fns, _shape_clamp, _shape_offset, _shape_topk_sum,
          _shape_group_left, _shape_group_left_ignoring,
          _shape_irate, _shape_label_ops,
          _shape_ts_of, _shape_duration_expr, _shape_param_scalar,
          _shape_at, _shape_absent, _shape_changes_resets, _shape_deriv]

N_QUERIES = int(os.environ.get("FUZZ_N_QUERIES", "300"))


def _norm(rows, label_cols):
    out = {}
    for r in rows:
        key = frozenset((c, str(r[c])) for c in label_cols)
        out[key] = r["v"]
    return out


def _spark_result(eng, promql, t):
    res = eng.query_instant(promql, t)
    if res.result_type == "scalar":
        rows = res.df.collect()
        return {frozenset(): rows[0]["value"]}
    out = {}
    for r in res.df.collect():
        lbls = {k: v for k, v in dict(r["labels"]).items() if k != "__name__"}
        out[frozenset(lbls.items())] = r["value"]
    return out


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-30)


# ----------------------------------------------------------- range queries
def _grid_sql(start: int, end: int, step: int) -> str:
    return (f"SELECT unnest(generate_series({start}, {end}, {step})) AS t")


def _rsel_sql(metric, pred, start, end, step) -> str:
    """Per-step instant vector with lookback."""
    return f"""
    SELECT g.t, s.job, s.inst, arg_max(s.value, s.ts) AS v
    FROM ({_grid_sql(start, end, step)}) g
    JOIN samples s ON s.ts > g.t - {LOOKBACK} AND s.ts <= g.t
    WHERE s.name = '{metric}' AND {pred}
    GROUP BY g.t, s.job, s.inst"""


def _rwin_sql(metric, pred, start, end, step, w_s) -> str:
    return f"""
    SELECT g.t, s.job, s.inst, s.ts, s.value
    FROM ({_grid_sql(start, end, step)}) g
    JOIN samples s ON s.ts > g.t - {w_s * 1000} AND s.ts <= g.t
    WHERE s.name = '{metric}' AND {pred}"""


def _rshape_selector(rng, start, end, step):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    return sel, f"SELECT t, job, inst, v FROM ({_rsel_sql(metric, sqlp, start, end, step)})"


def _rshape_agg(rng, start, end, step):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    op, sqlagg = rng.choice(AGGS)
    grouping = rng.choice(["job", "inst"])
    base = _rsel_sql(metric, sqlp, start, end, step)
    return (f"{op} by ({grouping}) ({sel})",
            f"SELECT t, {grouping}, {sqlagg} AS v FROM ({base}) "
            f"GROUP BY t, {grouping}")


def _rshape_over_time(rng, start, end, step):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlagg = rng.choice(OVER_TIME)
    w = rng.choice(WINDOWS)
    base = _rwin_sql(metric, sqlp, start, end, step, w)
    return (f"{fn}({sel}[{w}s])",
            f"SELECT t, job, inst, {sqlagg} AS v FROM ({base}) "
            f"GROUP BY t, job, inst")


def _rshape_ts_of(rng, start, end, step):
    """ts_of_* per grid step (see _shape_ts_of for the tie rule)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn = rng.choice(["ts_of_max_over_time", "ts_of_min_over_time",
                     "ts_of_last_over_time", "ts_of_first_over_time"])
    w = rng.choice(WINDOWS)
    base = _rwin_sql(metric, sqlp, start, end, step, w)
    if fn in ("ts_of_last_over_time", "ts_of_first_over_time"):
        ext = "max" if fn == "ts_of_last_over_time" else "min"
        sql = f"SELECT t, job, inst, {ext}(ts) / 1000.0 AS v FROM ({base}) " \
              f"GROUP BY t, job, inst"
    else:
        order = "value DESC" if fn == "ts_of_max_over_time" else "value ASC"
        sql = f"""
        SELECT t, job, inst, max(CASE WHEN rn = 1 THEN ts END) / 1000.0 AS v
        FROM (SELECT t, job, inst, ts,
                     row_number() OVER (PARTITION BY t, job, inst
                                        ORDER BY {order}, ts DESC) AS rn
              FROM ({base}))
        GROUP BY t, job, inst"""
    return f"{fn}({sel}[{w}s])", sql


def _rshape_rate(rng, start, end, step):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    kind = rng.choice(["rate", "increase", "delta"])
    w = rng.choice(WINDOWS)
    counter = kind in ("rate", "increase")
    corr = ("sum(CASE WHEN value < pv THEN pv ELSE 0 END)" if counter
            else "0")
    zero_clamp = """
        CASE WHEN delta > 0 AND first_v >= 0
                  AND sampled * first_v / delta < dur_start1
             THEN sampled * first_v / delta ELSE dur_start1 END""" if counter \
        else "dur_start1"
    per_s = f" / {w}.0" if kind == "rate" else ""
    sql = f"""
    WITH w AS (
        SELECT t, job, inst, ts, value,
               lag(value) OVER (PARTITION BY t, job, inst ORDER BY ts) AS pv
        FROM ({_rwin_sql(metric, sqlp, start, end, step, w)})
    ),
    agg AS (
        SELECT t, job, inst,
               arg_min(value, ts) AS first_v,
               arg_max(value, ts) - arg_min(value, ts) + {corr} AS delta,
               (min(ts) - (t - {w * 1000})) / 1000.0 AS dur_start,
               (t - max(ts)) / 1000.0 AS dur_end,
               (max(ts) - min(ts)) / 1000.0 AS sampled,
               CAST(count(*) AS DOUBLE) AS n
        FROM w GROUP BY t, job, inst HAVING count(*) >= 2
    ),
    ex AS (
        SELECT t, job, inst, delta, sampled, dur_end, first_v,
               sampled / (n - 1) * 1.1 AS thresh,
               sampled / (n - 1) / 2 AS half,
               CASE WHEN dur_start >= sampled / (n - 1) * 1.1
                    THEN sampled / (n - 1) / 2 ELSE dur_start END AS dur_start1
        FROM ex0_placeholder
    )
    SELECT t, job, inst,
           delta * ((sampled + ({zero_clamp})
                     + CASE WHEN dur_end >= thresh THEN half ELSE dur_end END)
                    / sampled){per_s} AS v
    FROM ex"""
    sql = sql.replace("FROM ex0_placeholder", "FROM agg")
    return f"{kind}({sel}[{w}s])", sql


RSHAPES = [_rshape_selector, _rshape_agg, _rshape_over_time, _rshape_rate,
           _rshape_ts_of]
N_RANGE_QUERIES = int(os.environ.get("FUZZ_N_RANGE", "60"))


# ------------------------------------------ range modifiers (offset / @)
#
# The r9 and r10 engine bugs both lived on the @/offset axis (@-anchor
# extrapolation, @-in-subquery grid resolution) — yet no fuzz family
# randomized those modifiers.  These shapes lift the range families with
# random offset / @ modifiers; the DuckDB oracle shifts (offset) or fixes
# (@) the per-step window end expression in lockstep.

def _mod_window(rng):
    """Pick a random modifier; return (promql suffix, SQL window-end expr
    in terms of the grid row g.t)."""
    kind = rng.choice(["offset", "at", "offset_at"])
    o = rng.choice([10, 30, 50])
    anchor = rng.randrange(60, 190) * S
    if kind == "offset":
        return f" offset {o}s", f"g.t - {o * 1000}"
    if kind == "at":
        return f" @ {anchor // S}", f"{anchor}"
    # @ anchors first, then offset shifts: window end = T - offset
    return f" offset {o}s @ {anchor // S}", f"{anchor - o * 1000}"


def _rshape_selector_mod(rng, start, end, step):
    """Instant selector with offset/@ per grid step (lookback shifted)."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    mod, te = _mod_window(rng)
    sql = f"""
    SELECT g.t, s.job, s.inst, arg_max(s.value, s.ts) AS v
    FROM ({_grid_sql(start, end, step)}) g
    JOIN samples s ON s.ts > ({te}) - {LOOKBACK} AND s.ts <= ({te})
    WHERE s.name = '{metric}' AND {sqlp}
    GROUP BY g.t, s.job, s.inst"""
    return f"{sel}{mod}", sql


def _rshape_over_time_mod(rng, start, end, step):
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlagg = rng.choice(OVER_TIME)
    w = rng.choice(WINDOWS)
    mod, te = _mod_window(rng)
    base = f"""
    SELECT g.t, s.job, s.inst, s.ts, s.value
    FROM ({_grid_sql(start, end, step)}) g
    JOIN samples s ON s.ts > ({te}) - {w * 1000} AND s.ts <= ({te})
    WHERE s.name = '{metric}' AND {sqlp}"""
    return (f"{fn}({sel}[{w}s]{mod})",
            f"SELECT t, job, inst, {sqlagg} AS v FROM ({base}) "
            f"GROUP BY t, job, inst")


def _rshape_rate_mod(rng, start, end, step):
    """rate/increase/delta with offset/@ — the full extrapolation
    arithmetic (_rshape_rate) evaluated against a shifted/fixed window
    end `te` instead of the grid time itself."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    kind = rng.choice(["rate", "increase", "delta"])
    w = rng.choice(WINDOWS)
    mod, te = _mod_window(rng)
    counter = kind in ("rate", "increase")
    corr = ("sum(CASE WHEN value < pv THEN pv ELSE 0 END)" if counter
            else "0")
    zero_clamp = """
        CASE WHEN delta > 0 AND first_v >= 0
                  AND sampled * first_v / delta < dur_start1
             THEN sampled * first_v / delta ELSE dur_start1 END""" if counter \
        else "dur_start1"
    per_s = f" / {w}.0" if kind == "rate" else ""
    sql = f"""
    WITH w AS (
        SELECT g.t, ({te}) AS te, s.job, s.inst, s.ts, s.value,
               lag(s.value) OVER (PARTITION BY g.t, s.job, s.inst
                                  ORDER BY s.ts) AS pv
        FROM ({_grid_sql(start, end, step)}) g
        JOIN samples s ON s.ts > ({te}) - {w * 1000} AND s.ts <= ({te})
        WHERE s.name = '{metric}' AND {sqlp}
    ),
    agg AS (
        SELECT t, te, job, inst,
               arg_min(value, ts) AS first_v,
               arg_max(value, ts) - arg_min(value, ts) + {corr} AS delta,
               (min(ts) - (te - {w * 1000})) / 1000.0 AS dur_start,
               (te - max(ts)) / 1000.0 AS dur_end,
               (max(ts) - min(ts)) / 1000.0 AS sampled,
               CAST(count(*) AS DOUBLE) AS n
        FROM w GROUP BY t, te, job, inst HAVING count(*) >= 2
    ),
    ex AS (
        SELECT t, job, inst, delta, sampled, dur_end, first_v,
               sampled / (n - 1) * 1.1 AS thresh,
               sampled / (n - 1) / 2 AS half,
               CASE WHEN dur_start >= sampled / (n - 1) * 1.1
                    THEN sampled / (n - 1) / 2 ELSE dur_start END AS dur_start1
        FROM agg
    )
    SELECT t, job, inst,
           delta * ((sampled + ({zero_clamp})
                     + CASE WHEN dur_end >= thresh THEN half ELSE dur_end END)
                    / sampled){per_s} AS v
    FROM ex"""
    return f"{kind}({sel}[{w}s]{mod})", sql


def _rshape_subquery_range(rng, start, end, step):
    """fn(sel[w:ss]) over a range grid — inner steps are ABSOLUTE
    multiples of ss (upstream promql/engine.go subquery alignment: first
    multiple of the inner step >= start - offset - range), evaluated as a
    GLOBAL inner grid each outer step then windows over; optional offset."""
    metric = rng.choice(METRICS)
    pm, sqlp = rng.choice(MATCHERS)
    sel = f"{metric}{{{pm}}}" if pm else metric
    fn, sqlagg = rng.choice(OVER_TIME)
    w = rng.choice([60, 100, 120])
    ss = rng.choice([15, 30])        # inner step, seconds
    o = rng.choice([0, 0, 30])       # subquery offset, seconds
    off = f" offset {o}s" if o else ""
    iss = ss * 1000
    lo = start - o * 1000 - w * 1000
    istart = -((-lo) // iss) * iss   # ceil to a multiple of ss
    iend = end - o * 1000
    inner = f"""
    SELECT ig.it, s.job, s.inst, arg_max(s.value, s.ts) AS value
    FROM (SELECT unnest(generate_series({istart}, {iend}, {iss})) AS it) ig
    JOIN samples s ON s.ts > ig.it - {LOOKBACK} AND s.ts <= ig.it
    WHERE s.name = '{metric}' AND {sqlp}
    GROUP BY ig.it, s.job, s.inst"""
    sql = f"""
    SELECT g.t, ip.job, ip.inst, {sqlagg.replace('ts', 'it')} AS v
    FROM ({_grid_sql(start, end, step)}) g
    JOIN ({inner}) ip ON ip.it > g.t - {o * 1000} - {w * 1000}
                      AND ip.it <= g.t - {o * 1000}
    GROUP BY g.t, ip.job, ip.inst"""
    return f"{fn}({sel}[{w}s:{ss}s]{off})", sql


MOD_RSHAPES = [_rshape_selector_mod, _rshape_over_time_mod,
               _rshape_rate_mod, _rshape_subquery_range]
N_MODIFIER_QUERIES = int(os.environ.get("FUZZ_N_MODIFIER", "80"))


def _spark_range_result(eng, promql, start, end, step):
    res = eng.query_range(promql, start, end, step)
    out = {}
    for r in res.df.collect():
        lbls = {k: v for k, v in dict(r["labels"]).items() if k != "__name__"}
        out[(frozenset(lbls.items()), r["t"])] = r["value"]
    return out


@pytest.mark.slow
def test_differential_fuzz_range(corpus):
    """Range-query differential: per-step results must match a DuckDB grid
    evaluation (grid CTE x lookback/window joins)."""
    eng, con = corpus
    rng = random.Random(717171)
    failures = []
    for i in range(N_RANGE_QUERIES):
        shape = rng.choice(RSHAPES)
        start = rng.randrange(50, 120) * S
        step = rng.choice([10, 20]) * S
        end = start + 4 * step
        promql, sql = shape(rng, start, end, step)
        duck = con.execute(sql).fetchdf()
        label_cols = [c for c in duck.columns if c not in ("v", "t")]
        want = {}
        for r in duck.to_dict("records"):
            key = frozenset((c, str(r[c])) for c in label_cols)
            want[(key, r["t"])] = r["v"]
        got = _spark_range_result(eng, promql, start, end, step)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} [{start},{end},{step}]: keys "
                            f"differ: got {len(got)}, want {len(want)}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} {k}: got {got[k]}, "
                                f"want {want[k]}")
    assert not failures, (f"{len(failures)}/{N_RANGE_QUERIES} divergences:\n"
                          + "\n".join(failures[:25]))


@pytest.mark.slow
def test_differential_fuzz_range_modifiers(corpus):
    """offset/@/subquery randomized range differential — the axis where
    the r9 (@-anchor extrapolation) and r10 (@-in-subquery grid) bugs
    lived, previously covered only by hand-built corpus files."""
    eng, con = corpus
    rng = random.Random(909090)
    failures = []
    for i in range(N_MODIFIER_QUERIES):
        shape = rng.choice(MOD_RSHAPES)
        start = rng.randrange(50, 120) * S
        step = rng.choice([10, 20]) * S
        end = start + 4 * step
        promql, sql = shape(rng, start, end, step)
        duck = con.execute(sql).fetchdf()
        label_cols = [c for c in duck.columns if c not in ("v", "t")]
        want = {}
        for r in duck.to_dict("records"):
            key = frozenset((c, str(r[c])) for c in label_cols)
            want[(key, r["t"])] = r["v"]
        got = _spark_range_result(eng, promql, start, end, step)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} [{start},{end},{step}]: keys "
                            f"differ: got {len(got)}, want {len(want)}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} {k}: got {got[k]}, "
                                f"want {want[k]}")
    assert not failures, (f"{len(failures)}/{N_MODIFIER_QUERIES} "
                          "divergences:\n" + "\n".join(failures[:25]))


@pytest.mark.slow
def test_differential_fuzz(corpus):
    eng, con = corpus
    rng = random.Random(515151)
    failures = []
    for i in range(N_QUERIES):
        shape = rng.choice(SHAPES)
        t = rng.randrange(50, 196) * S
        promql, sql = shape(rng, t)
        duck = con.execute(sql).fetchdf()
        label_cols = [c for c in duck.columns if c != "v"]
        want = _norm(duck.to_dict("records"), label_cols)
        got = _spark_result(eng, promql, t)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} @{t}: labelsets differ\n"
                            f"  got : {sorted(map(sorted, got))}\n"
                            f"  want: {sorted(map(sorted, want))}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} @{t} {dict(k)}: "
                                f"got {got[k]}, want {want[k]}")
    assert not failures, (f"{len(failures)}/{N_QUERIES} divergences:\n"
                          + "\n".join(failures[:25]))


# -------------------------------------------------- grammar composer fuzz
#
# promqlsmith-style NESTED composition (reference db/db_test.go:1162-1190):
# the template families above are leaves; combinators wrap them into
# agg-over-binop, binop-of-aggs, filter-of-agg-of-rate, ... trees.  Every
# node carries (promql, sql, label_cols) so the DuckDB oracle composes in
# lockstep with the PromQL text.

_COMPOSE_LEAVES = [_shape_selector, _shape_over_time, _shape_rate,
                   _shape_irate, _shape_arith, _shape_cmp_filter]


def _compose_vector(rng, t, depth):
    """A (promql, sql) node whose SQL exposes (job, inst, v) — leaves are
    full-labelset template families; MAP / FILTER / BIN keep the shape."""
    if depth <= 0 or rng.random() < 0.35:
        return rng.choice(_COMPOSE_LEAVES)(rng, t)
    kind = rng.choice(["map", "filter", "bin", "setop"])
    p1, s1 = _compose_vector(rng, t, depth - 1)
    if kind == "map":
        c = round(rng.uniform(0.5, 3), 3)
        d = round(rng.uniform(-5, 5), 3)
        return (f"({p1}) * {c} + {d}",
                f"SELECT job, inst, v * {c} + {d} AS v FROM ({s1})")
    if kind == "filter":
        thr = rng.choice([0.0, 0.01, 1.0, 10.0, 50.0])
        op, sop = rng.choice([(">", ">"), ("<=", "<="), (">=", ">=")])
        return (f"({p1}) {op} {thr}",
                f"SELECT job, inst, v FROM ({s1}) WHERE v {sop} {thr}")
    p2, s2 = _compose_vector(rng, t, depth - 1)
    if kind == "bin":
        op = rng.choice(["+", "-", "*", "/"])
        return (f"({p1}) {op} ({p2})",
                f"SELECT l.job, l.inst, l.v {op} r.v AS v "
                f"FROM ({s1}) l JOIN ({s2}) r USING (job, inst)")
    op = rng.choice(["and", "unless"])
    join = "SEMI" if op == "and" else "ANTI"
    return (f"({p1}) {op} ({p2})",
            f"SELECT l.job, l.inst, l.v FROM ({s1}) l "
            f"{join} JOIN ({s2}) r ON l.job = r.job AND l.inst = r.inst")


def _compose_tree(rng, t):
    """Full composed case: a vector tree, optionally aggregated (by a
    grouping label or globally), optionally post-mapped/filtered — the
    agg-over-binop / binop-of-aggs families the flat shapes never reach."""
    node = _compose_vector(rng, t, rng.choice([1, 2, 2, 3]))
    roll = rng.random()
    if roll < 0.25:
        return node
    op, sqlagg = rng.choice(AGGS)
    if roll < 0.55:  # grouped agg over the tree
        g = rng.choice(["job", "inst"])
        p = f"{op} by ({g}) ({node[0]})"
        s = f"SELECT {g}, {sqlagg} AS v FROM ({node[1]}) GROUP BY {g}"
        if rng.random() < 0.5:  # binop of two grouped aggs
            op2, sqlagg2 = rng.choice(AGGS)
            n2 = _compose_vector(rng, t, rng.choice([1, 2]))
            bop = rng.choice(["+", "-", "*"])
            return (f"({p}) {bop} ({op2} by ({g}) ({n2[0]}))",
                    f"SELECT l.{g}, l.v {bop} r.v AS v FROM ({s}) l JOIN "
                    f"(SELECT {g}, {sqlagg2} AS v FROM ({n2[1]}) "
                    f"GROUP BY {g}) r USING ({g})")
        if rng.random() < 0.5:  # filter over the grouped agg
            thr = rng.choice([0.0, 1.0, 25.0])
            return (f"({p}) > {thr}",
                    f"SELECT {g}, v FROM ({s}) WHERE v > {thr}")
        return p, s
    # global aggregate over the tree (scalar-shaped result); HAVING guards
    # the SQL artifact where aggregating an empty set still emits one row
    # (count -> 0) while PromQL's aggregate of an empty vector is absent
    return (f"{op}({node[0]})",
            f"SELECT {sqlagg} AS v FROM ({node[1]}) HAVING count(*) > 0")


N_COMPOSED = int(os.environ.get("FUZZ_N_COMPOSED", "140"))


@pytest.mark.slow
def test_differential_fuzz_composed(corpus):
    """Composed-grammar differential: nested trees of the template families
    must match the equally-composed DuckDB oracle (VERDICT r7 #6)."""
    eng, con = corpus
    rng = random.Random(424242)
    failures = []
    for i in range(N_COMPOSED):
        t = rng.randrange(50, 196) * S
        promql, sql = _compose_tree(rng, t)
        duck = con.execute(sql).fetchdf()
        label_cols = [c for c in duck.columns if c != "v"]
        want = _norm(duck.to_dict("records"), label_cols)
        # a global aggregate of an empty vector is absent in PromQL but one
        # NULL row in SQL — normalize both to empty
        want = {k: v for k, v in want.items()
                if not (v is None and not dict(k))}
        got = _spark_result(eng, promql, t)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} @{t}: labelsets differ\n"
                            f"  got : {sorted(map(sorted, got))}\n"
                            f"  want: {sorted(map(sorted, want))}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} @{t} {dict(k)}: "
                                f"got {got[k]}, want {want[k]}")
    assert not failures, (f"{len(failures)}/{N_COMPOSED} divergences:\n"
                          + "\n".join(failures[:20]))


# ------------------------------------------- composed RANGE-grammar fuzz
#
# The instant composer above, lifted to range evaluation: every node's SQL
# exposes (t, job, inst, v), combinators join/group per step, so nested
# trees are verified at EVERY grid point against the lockstep DuckDB grid.

# modifier/subquery shapes compose too: they expose the same
# (t, job, inst, v) node schema, so offset/@/subquery leaves get fuzzed
# INSIDE nested trees (agg-over-binop-of-offset-rate etc.)
_RCOMPOSE_LEAVES = [_rshape_selector, _rshape_over_time, _rshape_rate,
                    _rshape_selector_mod, _rshape_over_time_mod,
                    _rshape_rate_mod, _rshape_subquery_range]


def _rcompose_vector(rng, start, end, step, depth):
    if depth <= 0 or rng.random() < 0.4:
        return rng.choice(_RCOMPOSE_LEAVES)(rng, start, end, step)
    kind = rng.choice(["map", "filter", "bin", "setop"])
    p1, s1 = _rcompose_vector(rng, start, end, step, depth - 1)
    if kind == "map":
        c = round(rng.uniform(0.5, 3), 3)
        d = round(rng.uniform(-5, 5), 3)
        return (f"({p1}) * {c} + {d}",
                f"SELECT t, job, inst, v * {c} + {d} AS v FROM ({s1})")
    if kind == "filter":
        thr = rng.choice([0.0, 0.01, 1.0, 10.0])
        return (f"({p1}) > {thr}",
                f"SELECT t, job, inst, v FROM ({s1}) WHERE v > {thr}")
    p2, s2 = _rcompose_vector(rng, start, end, step, depth - 1)
    if kind == "bin":
        op = rng.choice(["+", "-", "*"])
        return (f"({p1}) {op} ({p2})",
                f"SELECT l.t, l.job, l.inst, l.v {op} r.v AS v "
                f"FROM ({s1}) l JOIN ({s2}) r USING (t, job, inst)")
    op = rng.choice(["and", "unless"])
    join = "SEMI" if op == "and" else "ANTI"
    return (f"({p1}) {op} ({p2})",
            f"SELECT l.t, l.job, l.inst, l.v FROM ({s1}) l {join} JOIN "
            f"({s2}) r ON l.t = r.t AND l.job = r.job AND l.inst = r.inst")


def _rcompose_tree(rng, start, end, step):
    node = _rcompose_vector(rng, start, end, step, rng.choice([1, 2, 2]))
    if rng.random() < 0.45:
        op, sqlagg = rng.choice(AGGS)
        g = rng.choice(["job", "inst"])
        return (f"{op} by ({g}) ({node[0]})",
                f"SELECT t, {g}, {sqlagg} AS v FROM ({node[1]}) "
                f"GROUP BY t, {g}")
    return node


N_RCOMPOSED = int(os.environ.get("FUZZ_N_RCOMPOSED", "50"))


@pytest.mark.slow
def test_differential_fuzz_range_composed(corpus):
    """Nested range-query trees per grid step vs the lockstep DuckDB
    oracle — the range-eval counterpart of the composed instant fuzz."""
    eng, con = corpus
    rng = random.Random(909090)
    failures = []
    for i in range(N_RCOMPOSED):
        start = rng.randrange(50, 120) * S
        step = rng.choice([10, 20]) * S
        end = start + 3 * step
        promql, sql = _rcompose_tree(rng, start, end, step)
        duck = con.execute(sql).fetchdf()
        label_cols = [c for c in duck.columns if c not in ("v", "t")]
        want = {}
        for r in duck.to_dict("records"):
            key = frozenset((c, str(r[c])) for c in label_cols)
            want[(key, r["t"])] = r["v"]
        got = _spark_range_result(eng, promql, start, end, step)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} [{start},{end},{step}]: "
                            f"keys differ: got {len(got)}, want {len(want)}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} {k}: got {got[k]}, "
                                f"want {want[k]}")
    assert not failures, (f"{len(failures)}/{N_RCOMPOSED} divergences:\n"
                          + "\n".join(failures[:15]))


# ----------------------------------------------- randomized matcher fuzz
#
# promqlsmith also randomizes the MATCHERS and call arguments themselves
# (reference db/db_test.go:1129-1205 draws rnd label sets / matcher ops /
# function args); the families above use a fixed matcher template list and
# a corpus where every series carries every label.  This suite draws
# seeded-random matcher sets — equality/negation/regex/empty-match
# `=~".*"` / empty-value `=""` / value-absent "nope" — over a corpus with
# an OPTIONAL label (some series carry no `zone`), so the PromQL
# missing-label-is-empty-string rule is exercised on both match and
# grouping paths, plus random numeric arguments for clamp*/round.

ZONES = ("z1", "z2")


@pytest.fixture(scope="module")
def corpus_ml(spark):
    """Corpus with an optional `zone` label (absent on ~1/3 of series)."""
    rng = random.Random(20250815)
    rows = []
    for metric in METRICS:
        for job in JOBS:
            for inst in INSTS:
                zone = rng.choice((None,) + ZONES)
                lbl = {"__name__": metric, "job": job, "inst": inst}
                if zone is not None:
                    lbl["zone"] = zone
                v = 0.0
                for i in range(20):
                    v += rng.uniform(0.001, 5)
                    rows.append((lbl, i * 10 * S, round(v, 6)))
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=LOOKBACK,
                       deterministic=True)

    import duckdb
    import pandas as pd
    con = duckdb.connect()
    pdf = pd.DataFrame(
        [(lbl["__name__"], lbl["job"], lbl["inst"], lbl.get("zone", ""),
          ts, v) for lbl, ts, v in rows],
        columns=["name", "job", "inst", "zone", "ts", "value"])
    con.register("mlsamples", pdf)
    return eng, con


_ML_LABELS = (("job", JOBS), ("inst", INSTS), ("zone", ZONES))


def _rand_matcher_set(rng) -> tuple[str, str]:
    """Random matcher fragment + equivalent SQL predicate.  The SQL side
    matches against the stored value with missing-as-'' (PromQL's
    missing-label-is-empty-string rule; the corpus stores '' for absent
    zone).  Regexes are RE2-compatible in both engines and fully anchored
    on both sides (PromQL anchors; DuckDB regexp_full_match anchors)."""
    terms, preds = [], []
    for label, values in _ML_LABELS:
        if rng.random() < 0.45:
            continue
        op = rng.choice(("=", "!=", "=~", "!~"))
        if op in ("=", "!="):
            val = rng.choice(tuple(values) + ("", "nope"))
            terms.append(f'{label}{op}"{val}"')
            preds.append(f"{label} {'=' if op == '=' else '<>'} '{val}'")
        else:
            pat = rng.choice(
                (".*", ".+", "", "nope",
                 "|".join(rng.sample(list(values),
                                     rng.randint(1, len(values)))),
                 values[0][0] + ".*", "[a-z][0-9]", f"({values[0]})?"))
            terms.append(f'{label}{op}"{pat}"')
            neg = "NOT " if op == "!~" else ""
            preds.append(f"{neg}regexp_full_match({label}, '{pat}')")
    return ", ".join(terms), " AND ".join(preds) if preds else "TRUE"


def _ml_sel_sql(metric: str, pred: str, t: int) -> str:
    return f"""
    SELECT job, inst, zone, arg_max(value, ts) AS v
    FROM mlsamples
    WHERE name = '{metric}' AND {pred}
      AND ts > {t - LOOKBACK} AND ts <= {t}
    GROUP BY job, inst, zone"""


def _ml_shape(rng, t) -> tuple[str, str, list[str]]:
    """One random case: selector / over_time / by-grouped agg (including
    grouping BY the optional label) / clamp-round with random arguments.
    Returns (promql, sql, label_cols)."""
    metric = rng.choice(METRICS)
    frag, pred = _rand_matcher_set(rng)
    sel = f"{metric}{{{frag}}}" if frag else metric
    base = _ml_sel_sql(metric, pred, t)
    roll = rng.random()
    if roll < 0.25:  # plain selector
        return (sel, f"SELECT job, inst, zone, v FROM ({base})",
                ["job", "inst", "zone"])
    if roll < 0.45:  # *_over_time with a random window
        fn, sqlagg = rng.choice(OVER_TIME)
        w = rng.choice(WINDOWS)
        return (f"{fn}({sel}[{w}s])",
                f"""SELECT job, inst, zone, {sqlagg} AS v
                    FROM mlsamples
                    WHERE name = '{metric}' AND {pred}
                      AND ts > {t - w * 1000} AND ts <= {t}
                    GROUP BY job, inst, zone""",
                ["job", "inst", "zone"])
    if roll < 0.7:  # aggregate grouped by a random label (incl. optional)
        op, sqlagg = rng.choice(AGGS)
        g = rng.choice(["job", "inst", "zone"])
        return (f"{op} by ({g}) ({sel})",
                f"SELECT {g}, {sqlagg} AS v FROM ({base}) GROUP BY {g}",
                [g])
    # clamp*/round with randomized numeric arguments
    fn = rng.choice(("clamp", "clamp_min", "clamp_max", "round"))
    if fn == "clamp":
        lo = round(rng.uniform(0, 30), 3)
        hi = round(rng.uniform(lo, 80), 3)
        p = f"clamp({sel}, {lo}, {hi})"
        expr = f"least(greatest(v, {lo}), {hi})"
    elif fn == "clamp_min":
        lo = round(rng.uniform(-10, 40), 3)
        p = f"clamp_min({sel}, {lo})"
        expr = f"greatest(v, {lo})"
    elif fn == "clamp_max":
        hi = round(rng.uniform(-10, 40), 3)
        p = f"clamp_max({sel}, {hi})"
        expr = f"least(v, {hi})"
    else:
        to = rng.choice((1.0, 0.5, 2.0, 0.001, 10.0))
        inv = 1.0 / to  # mirror funcRound's inverse-multiplier form
        p = f"round({sel}, {to})"
        expr = f"floor(v * {inv!r} + 0.5) / {inv!r}"
    return (p, f"SELECT job, inst, zone, {expr} AS v FROM ({base})",
            ["job", "inst", "zone"])


def _norm_ml(rows, label_cols):
    """Like _norm but drops empty-valued labels: PromQL labelsets never
    carry a label with value '' (missing zone ≡ '')."""
    out = {}
    for r in rows:
        key = frozenset((c, str(r[c])) for c in label_cols if r[c] != "")
        out[key] = r["v"]
    return out


N_ML_QUERIES = 160


@pytest.mark.slow
def test_differential_fuzz_random_matchers(corpus_ml):
    """Seeded random matcher sets + random call arguments over the
    optional-label corpus must match DuckDB on every case."""
    eng, con = corpus_ml
    rng = random.Random(991199)
    failures = []
    for i in range(N_ML_QUERIES):
        t = rng.randrange(50, 196) * S
        promql, sql, label_cols = _ml_shape(rng, t)
        duck = con.execute(sql).fetchdf()
        want = _norm_ml(duck.to_dict("records"), label_cols)
        got = _spark_result(eng, promql, t)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} @{t}: labelsets differ\n"
                            f"  got : {sorted(map(sorted, got))}\n"
                            f"  want: {sorted(map(sorted, want))}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} @{t} {dict(k)}: "
                                f"got {got[k]}, want {want[k]}")
    assert not failures, (f"{len(failures)}/{N_ML_QUERIES} divergences:\n"
                          + "\n".join(failures[:25]))


def _ml_range_shape(rng, start, end, step) -> tuple[str, str, list[str]]:
    """Range-query case with seeded-random matchers over the
    optional-label corpus: selector / over_time / agg-by (incl. the
    optional label) evaluated on a DuckDB grid."""
    metric = rng.choice(METRICS)
    frag, pred = _rand_matcher_set(rng)
    sel = f"{metric}{{{frag}}}" if frag else metric
    grid = (f"grid AS (SELECT unnest(generate_series({start}, {end}, "
            f"{step})) AS t)")
    inst = f"""
    SELECT g.t, job, inst, zone, arg_max(value, ts) AS v
    FROM grid g JOIN mlsamples m
      ON m.name = '{metric}' AND {pred.replace('regexp_full_match(', 'regexp_full_match(m.')
                                      .replace('job ', 'm.job ')
                                      .replace('inst ', 'm.inst ')
                                      .replace('zone ', 'm.zone ')}
     AND m.ts > g.t - {LOOKBACK} AND m.ts <= g.t
    GROUP BY g.t, job, inst, zone"""
    roll = rng.random()
    if roll < 0.35:
        return (sel, f"WITH {grid} SELECT t, job, inst, zone, v "
                     f"FROM ({inst})", ["job", "inst", "zone"])
    if roll < 0.65:
        fn, sqlagg = rng.choice(OVER_TIME)
        w = rng.choice(WINDOWS)
        win = f"""
        SELECT g.t, job, inst, zone, {sqlagg} AS v
        FROM grid g JOIN mlsamples m
          ON m.name = '{metric}' AND {pred.replace('regexp_full_match(', 'regexp_full_match(m.')
                                          .replace('job ', 'm.job ')
                                          .replace('inst ', 'm.inst ')
                                          .replace('zone ', 'm.zone ')}
         AND m.ts > g.t - {w * 1000} AND m.ts <= g.t
        GROUP BY g.t, job, inst, zone"""
        return (f"{fn}({sel}[{w}s])", f"WITH {grid} {win}",
                ["job", "inst", "zone"])
    op, sqlagg = rng.choice(AGGS)
    g = rng.choice(["job", "inst", "zone"])
    return (f"{op} by ({g}) ({sel})",
            f"WITH {grid} SELECT t, {g}, {sqlagg} AS v FROM ({inst}) "
            f"GROUP BY t, {g}", [g])


@pytest.mark.slow
def test_differential_fuzz_random_matchers_range(corpus_ml):
    """Range-query flavor of the randomized matcher fuzz: 60 seeded cases
    over the optional-label corpus, per-step equality vs DuckDB."""
    eng, con = corpus_ml
    rng = random.Random(424242)
    failures = []
    for i in range(60):
        start = rng.randrange(50, 120) * S
        step = rng.choice([10, 20]) * S
        end = start + 3 * step
        promql, sql, label_cols = _ml_range_shape(rng, start, end, step)
        duck = con.execute(sql).fetchdf()
        want = {}
        for r in duck.to_dict("records"):
            key = frozenset((c, str(r[c])) for c in label_cols
                            if c != "t" and r[c] != "")
            want[(key, r["t"])] = r["v"]
        got = _spark_range_result(eng, promql, start, end, step)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} [{start},{end},{step}]: "
                            f"keys differ: got {len(got)}, want {len(want)}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} {k}: got {got[k]}, "
                                f"want {want[k]}")
    assert not failures, (f"{len(failures)}/60 divergences:\n"
                          + "\n".join(failures[:20]))


def _ml_match_shape(rng, t) -> tuple[str, str, list[str]]:
    """Random vector-matching case over the optional-label corpus:
    aggregated one-to-one matching on a random label subset, or
    many-to-one group_left against a grouped RHS, with on()/ignoring()
    chosen randomly (ignoring = the complement on this fixed label
    alphabet, which is exactly upstream's semantics: a missing label
    matches the empty string)."""
    m_a, m_b = rng.sample(list(METRICS), 2)
    labels = ["job", "inst", "zone"]
    on = rng.sample(labels, rng.randint(1, 2))
    rest = [x for x in labels if x not in on]
    op = rng.choice(["+", "-", "*"])
    a = _ml_sel_sql(m_a, "TRUE", t)
    b = _ml_sel_sql(m_b, "TRUE", t)
    onl = ", ".join(on)
    spell = (f"on({onl})" if rng.random() < 0.5
             else f"ignoring({', '.join(rest)})")
    if rng.random() < 0.5:
        # one-to-one between two aggregates grouped by the match labels
        ag1, sq1 = rng.choice(AGGS)
        ag2, sq2 = rng.choice(AGGS)
        p = (f"{ag1} by ({onl}) ({m_a}) {op} {spell} "
             f"{ag2} by ({onl}) ({m_b})")
        sql = (f"SELECT {', '.join('l.' + c for c in on)}, l.v {op} r.v AS v "
               f"FROM (SELECT {onl}, {sq1} AS v FROM ({a}) GROUP BY {onl}) l "
               f"JOIN (SELECT {onl}, {sq2} AS v FROM ({b}) GROUP BY {onl}) r "
               f"USING ({onl})")
        return p, sql, on
    # many-to-one: full LHS labelset against a grouped RHS
    ag, sq = rng.choice(AGGS)
    p = f"{m_a} {op} {spell} group_left {ag} by ({onl}) ({m_b})"
    sql = (f"SELECT l.job, l.inst, l.zone, l.v {op} r.v AS v FROM ({a}) l "
           f"JOIN (SELECT {onl}, {sq} AS v FROM ({b}) GROUP BY {onl}) r "
           f"USING ({onl})")
    return p, sql, ["job", "inst", "zone"]


@pytest.mark.slow
def test_differential_fuzz_random_matching(corpus_ml):
    """80 seeded vector-matching cases: random on()/ignoring() label
    subsets (including the optional label, exercising the
    missing-label-is-empty-string matching rule), one-to-one and
    group_left shapes, vs DuckDB joins."""
    eng, con = corpus_ml
    rng = random.Random(31337)
    failures = []
    for i in range(80):
        t = rng.randrange(50, 196) * S
        promql, sql, label_cols = _ml_match_shape(rng, t)
        duck = con.execute(sql).fetchdf()
        want = _norm_ml(duck.to_dict("records"), label_cols)
        got = _spark_result(eng, promql, t)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} @{t}: labelsets differ\n"
                            f"  got : {sorted(map(sorted, got))[:6]}\n"
                            f"  want: {sorted(map(sorted, want))[:6]}")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} @{t} {dict(k)}: "
                                f"got {got[k]}, want {want[k]}")
    assert not failures, (f"{len(failures)}/80 divergences:\n"
                          + "\n".join(failures[:20]))


def test_differential_fuzz_smoke(corpus):
    """Default-run smoke slice of the seeded differential fuzz: the same
    template families and oracle as test_differential_fuzz, 30 queries —
    the full 300-query run (and the other fuzz suites) are slow-marked,
    selected with `-m ""` (pytest.ini)."""
    eng, con = corpus
    rng = random.Random(424242)
    failures = []
    for i in range(30):
        shape = rng.choice(SHAPES)
        t = rng.randrange(50, 196) * S
        promql, sql = shape(rng, t)
        duck = con.execute(sql).fetchdf()
        label_cols = [c for c in duck.columns if c != "v"]
        want = _norm(duck.to_dict("records"), label_cols)
        got = _spark_result(eng, promql, t)
        if set(got) != set(want):
            failures.append(f"[{i}] {promql!r} @{t}: labelsets differ")
            continue
        for k in want:
            if not _close(got[k], want[k]):
                failures.append(f"[{i}] {promql!r} @{t} {dict(k)}: "
                                f"got {got[k]}, want {want[k]}")
    assert not failures, ("divergences:\n" + "\n".join(failures[:25]))
