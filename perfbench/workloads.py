"""Request streams, expected answers and answer checks.

Every request is a plain JSON-serializable dict.  ``dashboard(seed)``
builds the fixed panel set a Grafana dashboard refreshes: the seed picks
the dashboard's end time, the
metric names, the shard and the user-prefix regex, and the set never
changes within a run, so after warm-up every PromQL request is a plan-cache
hit.  ``expected(con, req)`` computes the answer with DuckDB over the
source events parquet, and ``check(req, data, want)`` compares a response
to it (floats at 1e-9 relative).  The SQL keeps the registry oracles' tie
rules (``plans/entry_queries.py``): the latest sample of a series is the
one with the largest (ts, value), and windows are folded in (ts, value)
order.
"""

from __future__ import annotations

import math
import random

DAY_MS = 86_400_000
T0_MS = 1704067200000  # 2024-01-01T00:00:00Z, the first day of the events
DAYS = 30
NAMES = ("click", "error", "purchase", "signup", "view")  # event types
N_USERS = 1500
LOOKBACK_MS = 7 * DAY_MS  # entry_queries.LOOKBACK
HOUR_MS = 3_600_000
REL_TOL = 1e-9
ABS_TOL = 1e-12

# DuckDB view of sources.samples_from_events (labels __name__/shard/user)
SAMPLES_CTE = """samples AS (
    SELECT event_type AS name,
           CAST(user_id % 8 AS VARCHAR) AS shard,
           CAST(user_id AS VARCHAR) AS "user",
           epoch_ms(ts) AS ts,
           value
    FROM events
)"""


def _promql(kind: str, query: str, expect: str, metric: str, **kw) -> dict:
    """A PromQL request; ``expect`` and the fields after it describe the
    answer to DuckDB and are never sent."""
    return {"kind": kind, "query": query, "expect": expect,
            "metric": metric, **kw}


def dashboard(seed: int) -> list[dict]:
    """The panel set: 7 PromQL panels, 4 metadata calls and one gRPC raw
    series export.  All range queries are step-aligned."""
    rnd = random.Random(seed)
    end = T0_MS + rnd.randint(14, DAYS - 1) * DAY_MS
    start, week = end - 14 * DAY_MS, 7 * DAY_MS
    m1, m2, m3 = rnd.sample(NAMES, 3)
    s = str(rnd.randrange(8))
    shard = {"shard": s}
    prefix = str(rnd.randrange(1, 10))
    user = str(rnd.randrange(N_USERS))
    sel2 = f'{m2}{{shard="{s}"}}'
    days = {"start": start, "end": end, "step": DAY_MS}
    return [
        _promql("instant", f"sum by (shard) ({m1})", "sum_latest", m1,
                time=end),
        _promql("range", f"sum by (shard) (count_over_time({m1}[1d]))",
                "count_over", m1, rng=DAY_MS, **days),
        _promql("range", f"rate({sel2}[2d])", "rate", m2, eq=shard,
                rng=2 * DAY_MS, start=end - week, end=end, step=DAY_MS),
        _promql("instant", f"topk(5, count_over_time({m1}[7d]) / on(user) "
                f"count_over_time({m2}[7d]))", "topk_ratio", m1, divisor=m2,
                time=end),
        _promql("range", f"max by (shard) (max_over_time({m3}[1d]))",
                "max_over", m3, rng=DAY_MS, **days),
        _promql("instant", f'count by (shard) ({m3}{{user=~"{prefix}.*"}})',
                "count_latest", m3, regex={"user": f"{prefix}.*"}, time=end),
        _promql("range", f'avg_over_time({m1}{{user="{user}"}}[3d])',
                "avg_over", m1, eq={"user": user}, rng=3 * DAY_MS,
                start=end - week, end=end, step=6 * HOUR_MS),
        {"kind": "labels", "match": [], "start": start, "end": end},
        {"kind": "labels", "match": [sel2], "start": start, "end": end},
        {"kind": "label_values", "name": "__name__", "match": [],
         "start": start, "end": end},
        {"kind": "label_values", "name": "user", "match": [sel2],
         "metric": m2, "eq": shard, "start": start, "end": end},
        {"kind": "grpc_series", "metric": m3, "eq": shard,
         "start": end - DAY_MS, "end": end},
    ]


# ------------------------------------------------------------- expected
def _grid(start: int, end: int, step: int) -> str:
    return f"grid AS (SELECT unnest(generate_series({start}, {end}, {step})) AS t)"


def _last(name: str, t: int, where: str = "TRUE") -> str:
    """Latest sample per series within the lookback at ``t`` (ties: the
    larger value, like the engine's max(struct(ts, value)))."""
    return f"""last AS (
    SELECT shard, "user", value FROM (
        SELECT shard, "user", value,
               row_number() OVER (PARTITION BY shard, "user"
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM samples
        WHERE name = '{name}' AND {where}
          AND ts > {t - LOOKBACK_MS} AND ts <= {t})
    WHERE rn = 1)"""


def _window(name: str, rng: int, start: int, end: int, step: int,
            where: str = "TRUE") -> str:
    return f"""{_grid(start, end, step)},
win AS (
    SELECT g.t, s.shard, s."user", s.ts, s.value
    FROM grid g JOIN samples s
      ON s.name = '{name}' AND {where}
     AND s.ts > g.t - {rng} AND s.ts <= g.t)"""


def _rate(name: str, rng: int, start: int, end: int, step: int,
          where: str) -> str:
    """Prometheus extrapolatedRate, as in the registry's promql_rate
    oracle (plans/entry_queries.py), per (t, series)."""
    sec = rng / 1000.0
    return f"""{_window(name, rng, start, end, step, where)},
w2 AS (SELECT *, lag(value) OVER (PARTITION BY t, shard, "user"
                                  ORDER BY ts, value) AS pv FROM win),
agg AS (
    SELECT t, shard, "user", count(*) AS n,
           min(ts) AS first_t, max(ts) AS last_t,
           first(value ORDER BY ts, value) AS first_v,
           last(value ORDER BY ts, value) AS last_v,
           sum(CASE WHEN value < pv THEN pv ELSE 0.0 END) AS corr
    FROM w2 GROUP BY t, shard, "user"),
ex AS (
    SELECT *, (last_v - first_v) + corr AS delta,
           CAST(first_t - (t - {rng}) AS DOUBLE) / 1000.0 AS dur_start,
           CAST(t - last_t AS DOUBLE) / 1000.0 AS dur_end,
           CAST(last_t - first_t AS DOUBLE) / 1000.0 AS sampled
    FROM agg WHERE n >= 2),
ex2 AS (
    SELECT *, sampled / (CAST(n AS DOUBLE) - 1) AS avg_dur,
           CASE WHEN dur_start >= (sampled / (CAST(n AS DOUBLE) - 1)) * 1.1
                THEN (sampled / (CAST(n AS DOUBLE) - 1)) / 2
                ELSE dur_start END AS dur_start_c
    FROM ex)
SELECT shard, "user", t,
       delta * ((sampled
         + CASE WHEN delta > 0 AND first_v >= 0
                     AND sampled * (first_v / delta) < dur_start_c
                THEN sampled * (first_v / delta) ELSE dur_start_c END
         + CASE WHEN dur_end >= avg_dur * 1.1 THEN avg_dur / 2
                ELSE dur_end END) / sampled) / {sec} AS value
FROM ex2"""


def _col(label: str) -> str:
    return {"__name__": "name", "user": '"user"'}.get(label, label)


def _where(req: dict) -> str:
    """The request's label matchers (besides the metric name) as SQL."""
    conds = [f"{_col(k)} = '{v}'" for k, v in req.get("eq", {}).items()]
    conds += [f"regexp_full_match({_col(k)}, '{v}')"
              for k, v in req.get("regex", {}).items()]
    return " AND ".join(conds) or "TRUE"


def expected_sql(req: dict) -> str:
    """DuckDB query giving the expected rows of ``req``.  Vector/matrix
    rows are (shard, user, t, value) with NULL for labels the result
    drops; metadata rows are single strings; series rows are
    (shard, user, ts, value)."""
    e, m, where = req.get("expect"), req.get("metric"), _where(req)
    t = req.get("time")
    if e in ("sum_latest", "count_latest"):
        agg = "sum(value)" if e == "sum_latest" else "CAST(count(*) AS DOUBLE)"
        return f"""WITH {SAMPLES_CTE}, {_last(m, t, where)}
SELECT shard, NULL, {t}, {agg} FROM last GROUP BY shard"""
    if e == "topk_ratio":
        def counts(n):
            return f"""SELECT "user", CAST(count(*) AS DOUBLE) AS c
    FROM samples WHERE name = '{n}'
      AND ts > {t - LOOKBACK_MS} AND ts <= {t} GROUP BY "user\""""
        return f"""WITH {SAMPLES_CTE}, a AS ({counts(m)}),
b AS ({counts(req['divisor'])})
SELECT NULL, a."user", {t}, a.c / b.c FROM a JOIN b USING ("user")"""
    if e == "rate":
        return f"WITH {SAMPLES_CTE}, " + _rate(
            m, req["rng"], req["start"], req["end"], req["step"], where)
    if e in ("count_over", "max_over", "avg_over"):
        select = {
            "count_over": "shard, NULL, t, CAST(count(*) AS DOUBLE) "
                          "FROM win GROUP BY t, shard",
            "max_over": "shard, NULL, t, max(value) FROM win GROUP BY t, shard",
            "avg_over": 'shard, "user", t, avg(value) '
                        'FROM win GROUP BY t, shard, "user"',
        }[e]
        return f"""WITH {SAMPLES_CTE}, {_window(m, req['rng'], req['start'],
                                                  req['end'], req['step'],
                                                  where)}
SELECT {select}"""
    span = f"ts >= {req['start']} AND ts <= {req['end']}"
    k = req["kind"]
    if k == "labels":
        # every series carries all three labels
        return "SELECT unnest(['__name__', 'shard', 'user'])"
    if k == "label_values" and not req["match"]:
        return f"""WITH {SAMPLES_CTE}
SELECT DISTINCT {_col(req['name'])} FROM samples WHERE {span}"""
    if k == "label_values":
        return f"""WITH {SAMPLES_CTE}
SELECT DISTINCT {_col(req['name'])} FROM samples
WHERE name = '{m}' AND {where} AND {span}"""
    if k == "grpc_series":
        return f"""WITH {SAMPLES_CTE}
SELECT shard, "user", ts, value FROM samples
WHERE name = '{m}' AND {where} AND {span}"""
    raise ValueError(f"no expected answer for {req}")


def _topk(rows: list[tuple], k: int = 5) -> dict:
    """All candidates plus the k best values (ties are the engine's
    choice, so only the values of the chosen k are pinned)."""
    return {"candidates": {(s, u): v for s, u, _t, v in rows},
            "top": sorted((v for *_x, v in rows), reverse=True)[:k]}


def expected(con, req: dict):
    rows = con.execute(expected_sql(req)).fetchall()
    k = req["kind"]
    if k in ("labels", "label_values"):
        return sorted(r[0] for r in rows)
    if req.get("expect") == "topk_ratio":
        return _topk(rows)
    if k == "grpc_series":
        out: dict = {}
        for shard, user, ts, value in rows:
            out.setdefault((shard, user), []).append((ts, value))
        return {key: sorted(v) for key, v in out.items()}
    return {(s, u, t): v for s, u, t, v in rows}


# ----------------------------------------------------------------- check
def floats_close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def points(req: dict, data) -> int:
    """Float/histogram points a response carries."""
    k = req["kind"]
    if k == "instant":
        return len(data["result"])
    if k == "range":
        return sum(len(s.get("values", [])) + len(s.get("histograms", []))
                   for s in data["result"])
    if k == "grpc_series":
        return sum(len(s["samples"]) + len(s["histograms"]) for s in data)
    return 0


def _vector_rows(data) -> dict:
    out = {}
    for s in data["result"]:
        m = s["metric"]
        key = (m.get("shard"), m.get("user"))
        vals = s["values"] if "values" in s else [s["value"]]
        for t, v in vals:
            out[key + (round(float(t) * 1000),)] = float(v)
    return out


def check(req: dict, data, want) -> str | None:
    """None when ``data`` (the decoded response payload) matches ``want``;
    else a short reason."""
    k = req["kind"]
    if k in ("labels", "label_values"):
        return None if sorted(data) == want else f"got {data[:5]}..."
    if k == "grpc_series":
        got = {}
        for s in data:
            key = (s["labels"].get("shard"), s["labels"].get("user"))
            got[key] = sorted((int(t), float(v)) for t, v in s["samples"])
        if got.keys() != want.keys():
            return f"{len(got)} series, want {len(want)}"
        for key, pts in want.items():
            g = got[key]
            if len(g) != len(pts) or any(
                    a[0] != b[0] or not floats_close(a[1], b[1])
                    for a, b in zip(g, pts)):
                return f"samples of {key} differ"
        return None
    if req.get("expect") == "topk_ratio":
        res = _vector_rows(data)
        cands = want["candidates"]
        vals = sorted(res.values(), reverse=True)
        if len(vals) != len(want["top"]) or not all(
                floats_close(a, b) for a, b in zip(vals, want["top"])):
            return f"top values {vals}, want {want['top']}"
        for (s, u, _t), v in res.items():
            if (s, u) not in cands or not floats_close(v, cands[(s, u)]):
                return f"series {(s, u)} value {v} is not a candidate"
        return None
    got = _vector_rows(data)
    if got.keys() != want.keys():
        return f"{len(got)} points, want {len(want)}"
    for key, v in want.items():
        if not floats_close(got[key], v):
            return f"{key}: {got[key]!r} != {v!r}"
    return None


def rows_match(got: list, want: list) -> bool:
    """Row sets equal, floats at 1e-9 relative."""
    got, want = sorted(map(tuple, got)), sorted(map(tuple, want))
    return len(got) == len(want) and all(
        len(a) == len(b) and all(
            floats_close(x, y) if isinstance(y, float) else x == y
            for x, y in zip(a, b))
        for a, b in zip(got, want))
