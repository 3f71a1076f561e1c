"""Runner for the Prometheus promqltest ``.test`` format (the upstream
acceptance-corpus format the reference runs wholesale via
promqltest.RunBuiltinTestsWithStorage, reference db/db_test.go:53-71).

Supported subset (what our corpus slice uses):
- ``load <interval>`` blocks with series notation: literal values, ``_``
  (missing), ``stale`` (staleness marker), ``NaN``/``Inf``/``-Inf``, and
  expanding notation ``a+bxN`` / ``a-bxN`` / ``axN`` (N additional samples).
- ``eval instant at <time> <expr>`` with expected ``metric{labels} value``
  lines (empty expected set = empty result).
- ``eval range from <start> to <end> step <step> <expr>`` with expected
  ``metric{labels} v1 v2 ...`` lines — one value slot per step (expanding
  notation allowed, ``_`` = no point at that step).
- ``eval_fail instant at <time> <expr>`` expecting an evaluation error.
- ``expect`` directives on indented lines under an eval (Prometheus 3
  promqltest syntax): ``expect fail [msg <text> | regex <re>]``,
  ``expect warn [msg <text> | regex <re>]``, ``expect info [...]``,
  ``expect no_warn``, ``expect no_info``.  ``warn``/``info`` check the
  engine's PromQL annotations (QueryResult.annotations); ``msg`` matches
  by substring (upstream compares whole message lists — substring keeps
  the directive robust to our error-wrapping), ``regex`` by ``re.search``.

Comparison is the upstream ``almost equal``: |a-b| ≤ 1e-6·|a+b| or both NaN.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

_DUR = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000,
        "w": 7 * 86_400_000, "y": 365 * 86_400_000}


def parse_duration_ms(s: str) -> int:
    if s == "0":  # upstream allows a bare zero (e.g. "from 0")
        return 0
    total, pos = 0, 0
    for m in re.finditer(r"(\d+)(ms|[smhdwy])", s):
        if m.start() != pos:
            raise ValueError(f"bad duration {s!r}")
        total += int(m.group(1)) * _DUR[m.group(2)]
        pos = m.end()
    if pos != len(s):
        raise ValueError(f"bad duration {s!r}")
    return total


def _num(tok: str) -> float:
    t = tok.lower()
    if t == "nan":
        return float("nan")
    if t in ("inf", "+inf"):
        return float("inf")
    if t == "-inf":
        return float("-inf")
    return float(tok)


_HIST_RE = re.compile(r"\{\{([^}]*)\}\}(?:x(\d+))?")


def _parse_hist(body: str) -> dict:
    """Native-histogram literal (upstream promqltest notation subset):
    ``{{schema:0 count:C sum:S buckets:[a b c] offset:O z_bucket:Z}}`` →
    our explicit-bound model (histograms.py): bucket at 0-based position p
    has index i = offset+p, le = base^i, base = 2^(2^-schema); the zero
    bucket maps to le=0.  A trailing +Inf bucket (le=inf, count 0) is
    appended if absent so quantile algebra has its cap."""
    h = {"schema": 0, "count": None, "sum": 0.0, "offset": 0,
         "z_bucket": 0.0, "buckets": [], "n_offset": 0, "n_buckets": [],
         "custom_values": None}
    for m in re.finditer(r"(\w+):(\[[^\]]*\]|\S+)", body):
        k, v = m.group(1), m.group(2)
        if k in ("buckets", "n_buckets", "custom_values"):
            h[k] = [float(x) for x in v.strip("[]").split()]
        elif k in ("schema", "offset", "n_offset"):
            h[k] = int(v)
        elif k in ("count", "sum", "z_bucket"):
            h[k] = float(v)
        else:
            raise ValueError(f"unsupported histogram field {k!r}")
    if h["custom_values"] is not None:
        # NHCB (schema -53): custom_values are the finite upper bounds;
        # buckets may carry one extra trailing +Inf overflow count
        if h["schema"] != -53:
            raise ValueError("custom_values requires schema:-53")
        cv = h["custom_values"]
        cnts = h["buckets"]
        if len(cnts) not in (len(cv), len(cv) + 1):
            raise ValueError("custom_values/buckets length mismatch")
        bks = [(cv[i], float(cnts[i])) for i in range(len(cv))]
        bks.append((float("inf"),
                    float(cnts[len(cv)]) if len(cnts) > len(cv) else 0.0))
        count = h["count"] if h["count"] is not None else \
            sum(c for _, c in bks)
        return {"hist": (count, h["sum"], bks, -53)}
    base = 2.0 ** (2.0 ** -h["schema"])
    bks = []
    # negative buckets: index i covers [-base^i, -base^(i-1)); the stored
    # upper bound is -base^(i-1) (ascending le order = descending index)
    for p, c in enumerate(h["n_buckets"]):
        bks.append((-(base ** (h["n_offset"] + p - 1)), float(c)))
    bks.sort()
    if h["z_bucket"]:
        bks.append((0.0, h["z_bucket"]))
    for p, c in enumerate(h["buckets"]):
        bks.append((base ** (h["offset"] + p), float(c)))
    if not bks or bks[-1][0] != float("inf"):
        bks.append((float("inf"), 0.0))
    count = h["count"] if h["count"] is not None else \
        sum(c for _, c in bks)
    # schema rides along: exponential literals get upstream bound
    # semantics (true lower bounds, geometric stddev midpoints)
    return {"hist": (count, h["sum"], bks, h["schema"])}


def expand_values(tokens: list[str]) -> list[float | None | str | dict]:
    """Series value notation → one slot per interval step.
    ``None`` = no sample (``_``), ``"stale"`` = staleness marker, dict =
    native-histogram sample."""
    out: list = []
    for tok in tokens:
        if tok == "_":
            out.append(None)
            continue
        if tok == "stale":
            out.append("stale")
            continue
        hm = _HIST_RE.fullmatch(tok)
        if hm:
            h = _parse_hist(hm.group(1))
            out.extend([h] * (int(hm.group(2) or 0) + 1))
            continue
        m = re.fullmatch(r"(-?[0-9.]+(?:e-?\d+)?|NaN|Inf|\+Inf|-Inf)"
                         r"(?:([+-])([0-9.]+(?:e-?\d+)?))?x(\d+)", tok)
        if m:
            start = _num(m.group(1))
            delta = _num(m.group(3)) if m.group(3) else 0.0
            if m.group(2) == "-":
                delta = -delta
            n = int(m.group(4))
            out.extend(start + i * delta for i in range(n + 1))
            continue
        out.append(_num(tok))
    return out


def _tokenize_values(s: str) -> list[str]:
    """Whitespace split keeping ``{{...}}`` histogram literals whole."""
    return re.findall(r"\{\{[^}]*\}\}(?:x\d+)?|\S+", s)


_SERIES_NAME_RE = re.compile(r"^([a-zA-Z_:][a-zA-Z0-9_:]*)?")


def _find_close_brace(s: str, start: int) -> int:
    """Index of the ``}`` matching ``s[start] == '{'``, skipping quoted
    strings — a quoted UTF-8 label name/value (Prometheus 3 syntax) may
    legally contain ``}``, so ``[^}]*`` would truncate the body."""
    i, n = start + 1, len(s)
    while i < n:
        ch = s[i]
        if ch == '"':
            i += 1
            while i < n and s[i] != '"':
                i += 2 if s[i] == "\\" else 1
            i += 1
            continue
        if ch == "}":
            return i
        i += 1
    raise ValueError(f"unclosed brace in series spec: {s!r}")


def _parse_brace_items(body: str) -> dict:
    """Brace-content scanner for series notation: classic ``l="v"`` pairs,
    quoted UTF-8 label names (``"l.x"="v"``), and a bare quoted string as
    the metric name (``{"a.b", l="v"}`` — Prometheus 3 syntax)."""
    labels: dict[str, str] = {}
    i, n = 0, len(body)

    def read_string(j: int) -> tuple[str, int]:
        j += 1  # opening quote
        buf = []
        while j < n and body[j] != '"':
            if body[j] == "\\" and j + 1 < n:
                buf.append({'"': '"', "\\": "\\", "n": "\n",
                            "t": "\t"}.get(body[j + 1], "\\" + body[j + 1]))
                j += 2
            else:
                buf.append(body[j])
                j += 1
        return "".join(buf), j + 1

    while i < n:
        while i < n and body[i] in " \t,":
            i += 1
        if i >= n:
            break
        if body[i] == '"':
            val, i = read_string(i)
            j = i
            while j < n and body[j] in " \t":
                j += 1
            if j < n and body[j] == "=":
                i = j + 1
                while i < n and body[i] in " \t":
                    i += 1
                v, i = read_string(i)
                labels[val] = v
            else:
                labels["__name__"] = val
        else:
            m = re.match(r"[a-zA-Z_][a-zA-Z0-9_:]*", body[i:])
            if not m:
                raise ValueError(f"bad series label at {body[i:]!r}")
            name = m.group(0)
            i += m.end()
            while i < n and body[i] in " \t":
                i += 1
            if i >= n or body[i] != "=":
                raise ValueError(f"bad series label {name!r}")
            i += 1
            while i < n and body[i] in " \t":
                i += 1
            v, i = read_string(i)
            labels[name] = v
    return labels


def parse_series_id(spec: str) -> tuple[dict, str]:
    """``metric{l="v", ...}`` → (labels dict incl __name__, rest-of-line)."""
    s = spec.strip()
    m = _SERIES_NAME_RE.match(s)
    name, i = m.group(1), m.end()
    labels: dict[str, str] = {}
    if name:
        labels["__name__"] = name
    if i < len(s) and s[i] == "{":
        j = _find_close_brace(s, i)
        labels.update(_parse_brace_items(s[i + 1:j]))
        return labels, s[j + 1:].lstrip()
    return labels, s[i:].lstrip()


@dataclass
class EvalCase:
    time_ms: int
    expr: str
    expected: list[tuple[dict, float]]
    expect_fail: bool = False
    line: int = 0
    ordered: bool = False
    # ``expect`` directives: (kind, mode, text) with kind in
    # {fail, warn, info, no_warn, no_info}, mode in {"", "msg", "regex"}
    expects: list[tuple[str, str, str]] = field(default_factory=list)
    # range evals: (start_ms, end_ms, step_ms); expected holds
    # (labels, [v_or_None per step]) instead of (labels, value)
    range_ms: tuple[int, int, int] | None = None


@dataclass
class TestScript:
    samples: list[tuple[dict, int, float | None]] = field(default_factory=list)
    evals: list[EvalCase] = field(default_factory=list)
    # ``clear`` starts a new independent section (fresh storage + evals);
    # sections collects the closed ones, (samples, evals) each.  The
    # trailing open section lives in samples/evals.
    sections: list[tuple[list, list]] = field(default_factory=list)

    def all_sections(self) -> list[tuple[list, list]]:
        return [*self.sections, (self.samples, self.evals)]


_EXPECT_RE = re.compile(r"expect\s+(fail|warn|info|no_warn|no_info)"
                        r"(?:\s+(msg|regex)\s+(.*))?$")


def _parse_expect(eline: str, case: EvalCase) -> bool:
    """Parse an ``expect`` directive line into ``case.expects``; returns
    True if the line was one (Prometheus 3 promqltest syntax)."""
    m = _EXPECT_RE.fullmatch(eline)
    if not m:
        return False
    kind, mode, text = m.group(1), m.group(2) or "", (m.group(3) or "").strip()
    case.expects.append((kind, mode, text))
    if kind == "fail":
        case.expect_fail = True
    return True


def parse_test(text: str) -> TestScript:
    ts = TestScript()
    lines = text.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        if line.startswith("clear"):
            ts.sections.append((ts.samples, ts.evals))
            ts.samples, ts.evals = [], []
            i += 1
            continue
        if line.startswith("load"):
            interval = parse_duration_ms(line.split()[1])
            i += 1
            while i < len(lines) and (lines[i].startswith(" ") or
                                      lines[i].startswith("\t")):
                sline = lines[i].strip()
                if sline and not sline.startswith("#"):
                    labels, rest = parse_series_id(sline)
                    for step, v in enumerate(expand_values(
                            _tokenize_values(rest))):
                        if v is None:
                            continue
                        val = (None if v == "stale"
                               else v if isinstance(v, dict) else float(v))
                        ts.samples.append((labels, step * interval, val))
                i += 1
            continue
        m = re.match(r"(eval_fail|eval)\s+(ordered\s+)?instant\s+at\s+"
                     r"(\S+)\s+(.*)$", line)
        if m:
            case = EvalCase(time_ms=parse_duration_ms(m.group(3)),
                            expr=m.group(4), expected=[],
                            expect_fail=m.group(1) == "eval_fail",
                            line=i + 1, ordered=bool(m.group(2)))
            i += 1
            while i < len(lines) and (lines[i].startswith(" ") or
                                      lines[i].startswith("\t")):
                eline = lines[i].strip()
                if eline and not eline.startswith("#"):
                    if _parse_expect(eline, case):
                        pass
                    # Bare numeric line = scalar expectation (upstream allows
                    # "eval ... <scalar expr>" followed by just the value).
                    elif re.fullmatch(r"-?(?:[0-9.]+(?:e-?\d+)?|NaN|Inf|\+Inf)",
                                      eline, re.IGNORECASE):
                        case.expected.append(({}, _num(eline)))
                    else:
                        labels, rest = parse_series_id(eline)
                        case.expected.append((labels, _num(rest.split()[0])))
                i += 1
            ts.evals.append(case)
            continue
        m = re.match(r"(eval_fail|eval)\s+range\s+from\s+(\S+)\s+to\s+(\S+)"
                     r"\s+step\s+(\S+)\s+(.*)$", line)
        if m:
            rng = (parse_duration_ms(m.group(2)), parse_duration_ms(m.group(3)),
                   parse_duration_ms(m.group(4)))
            case = EvalCase(time_ms=rng[0], expr=m.group(5), expected=[],
                            expect_fail=m.group(1) == "eval_fail",
                            line=i + 1, range_ms=rng)
            i += 1
            while i < len(lines) and (lines[i].startswith(" ") or
                                      lines[i].startswith("\t")):
                eline = lines[i].strip()
                if eline and not eline.startswith("#"):
                    if _parse_expect(eline, case):
                        i += 1
                        continue
                    # bare numeric line(s) = scalar range expectation (one
                    # value slot per step, like the instant form)
                    if re.fullmatch(
                            r"(?:-?(?:[0-9.]+(?:e-?\d+)?|NaN|Inf|\+Inf|_)"
                            r"(?:[x+-][0-9.]+)*\s*)+",
                            eline, re.IGNORECASE):
                        labels, rest = {}, eline
                    else:
                        labels, rest = parse_series_id(eline)
                    vals = [None if v is None or v == "stale" else float(v)
                            for v in expand_values(rest.split())]
                    case.expected.append((labels, vals))
                i += 1
            ts.evals.append(case)
            continue
        raise ValueError(f"unparsed promqltest line {i + 1}: {line!r}")
    return ts


def almost_equal(a: float, b: float, eps: float = 1e-6) -> bool:
    if math.isnan(a) and math.isnan(b):
        return True
    if math.isinf(a) or math.isinf(b):
        return a == b
    if a == b:
        return True
    return abs(a - b) <= eps * (abs(a) + abs(b))


def run_script(spark, script: TestScript, make_samples, engine_cls,
               lookback_ms: int = 300_000,
               deterministic: bool = True) -> list[str]:
    """Execute every eval; returns a list of failure descriptions (empty =
    pass).  One engine per ``clear``-delimited section — plans are lazy,
    construction is free.  ``deterministic`` picks the engine mode: the
    order-stable folds, or the native aggregation the server runs."""
    failures: list[str] = []
    for samples, evals in script.all_sections():
        if not evals:
            continue
        failures.extend(_run_section(spark, samples, evals, make_samples,
                                     engine_cls, lookback_ms, deterministic))
    return failures


def _run_section(spark, samples, evals, make_samples, engine_cls,
                 lookback_ms: int, deterministic: bool) -> list[str]:
    failures: list[str] = []
    eng = engine_cls(make_samples(spark, samples),
                     lookback_ms=lookback_ms, deterministic=deterministic)
    for case in evals:
        if case.range_ms is not None:
            failures.extend(_run_range_case(eng, case))
            continue
        try:
            res = eng.query_instant(case.expr, case.time_ms)
            if res.result_type == "scalar":
                rows = res.df.collect()
                got = {frozenset(): rows[0]["value"]}
                got_seq = list(got.items())
            else:
                got_seq = [(frozenset(dict(r["labels"]).items()), r["value"])
                           for r in res.df.collect()]
                got = dict(got_seq)
        except Exception as e:  # noqa: BLE001
            if case.expect_fail:
                failures.extend(_check_fail_expects(case, str(e)))
                continue
            failures.append(f"line {case.line}: {case.expr!r} raised "
                            f"{type(e).__name__}: {e}")
            continue
        if case.expect_fail:
            failures.append(f"line {case.line}: {case.expr!r} expected to "
                            f"fail, returned {len(got)} rows")
            continue
        want = {frozenset(labels.items()): v for labels, v in case.expected}
        if set(got) != set(want):
            failures.append(
                f"line {case.line}: {case.expr!r} labelsets differ:\n"
                f"  got : {sorted(map(sorted, got))}\n"
                f"  want: {sorted(map(sorted, want))}")
            continue
        for k in want:
            if not almost_equal(got[k], want[k]):
                failures.append(f"line {case.line}: {case.expr!r} "
                                f"{dict(k)}: got {got[k]}, want {want[k]}")
        if case.ordered:
            want_order = [frozenset(labels.items())
                          for labels, _ in case.expected]
            got_order = [k for k, _ in got_seq]
            if got_order != want_order:
                failures.append(
                    f"line {case.line}: {case.expr!r} ordering differs:\n"
                    f"  got : {[sorted(k) for k in got_order]}\n"
                    f"  want: {[sorted(k) for k in want_order]}")
        failures.extend(_check_annotation_expects(case, _result_ann(res)))
    return failures


def _result_ann(res):
    """Annotations including collected data-dependent probe annotations."""
    if hasattr(res, "all_annotations"):
        return res.all_annotations()
    return getattr(res, "annotations", None)


def _check_fail_expects(case: EvalCase, exc_text: str) -> list[str]:
    """Verify ``expect fail msg/regex`` directives against the error text."""
    fails = []
    for kind, mode, text in case.expects:
        if kind != "fail" or not mode:
            continue
        ok = (text in exc_text) if mode == "msg" else bool(
            re.search(text, exc_text))
        if not ok:
            fails.append(f"line {case.line}: {case.expr!r} failed as "
                         f"expected but message {exc_text!r} does not "
                         f"match {mode} {text!r}")
    return fails


def _check_annotation_expects(case: EvalCase, annotations) -> list[str]:
    """Verify warn/info/no_warn/no_info ``expect`` directives against the
    engine's PromQL annotations (QueryResult.annotations)."""
    ann = annotations or []
    warns = [m for k, m in ann if k == "warn"]
    infos = [m for k, m in ann if k == "info"]
    fails = []
    for kind, mode, text in case.expects:
        if kind == "fail":
            continue
        if kind == "no_warn":
            if warns:
                fails.append(f"line {case.line}: {case.expr!r} expected no "
                             f"warnings, got {warns}")
            continue
        if kind == "no_info":
            if infos:
                fails.append(f"line {case.line}: {case.expr!r} expected no "
                             f"info annotations, got {infos}")
            continue
        pool = warns if kind == "warn" else infos
        if mode == "msg":
            ok = any(text in m for m in pool)
        elif mode == "regex":
            ok = any(re.search(text, m) for m in pool)
        else:
            ok = bool(pool)
        if not ok:
            want = f"{kind} {mode} {text}".strip()
            fails.append(f"line {case.line}: {case.expr!r} expected "
                         f"{want}, got annotations {ann}")
    return fails


def _run_range_case(eng, case: EvalCase) -> list[str]:
    start, end, step = case.range_ms
    try:
        res = eng.query_range(case.expr, start, end, step)
        rows = res.df.collect()
    except Exception as e:  # noqa: BLE001
        if case.expect_fail:
            return _check_fail_expects(case, str(e))
        return [f"line {case.line}: {case.expr!r} raised "
                f"{type(e).__name__}: {e}"]
    if case.expect_fail:
        return [f"line {case.line}: {case.expr!r} expected to fail, "
                f"returned {len(rows)} rows"]
    got: dict[frozenset, dict[int, float]] = {}
    if getattr(res, "result_type", None) == "scalar":
        for r in rows:
            got.setdefault(frozenset(), {})[r["t"]] = r["value"]
    else:
        for r in rows:
            got.setdefault(frozenset(dict(r["labels"]).items()),
                           {})[r["t"]] = r["value"]
    want = {frozenset(labels.items()):
            {start + i * step: v for i, v in enumerate(vals) if v is not None}
            for labels, vals in case.expected}
    failures = []
    if set(got) != set(want):
        return [f"line {case.line}: {case.expr!r} labelsets differ:\n"
                f"  got : {sorted(map(sorted, got))}\n"
                f"  want: {sorted(map(sorted, want))}"]
    for k, points in want.items():
        if set(got[k]) != set(points):
            failures.append(
                f"line {case.line}: {case.expr!r} {dict(k)}: step times "
                f"differ: got {sorted(got[k])}, want {sorted(points)}")
            continue
        for t, v in points.items():
            if not almost_equal(got[k][t], v):
                failures.append(f"line {case.line}: {case.expr!r} {dict(k)} "
                                f"@{t}: got {got[k][t]}, want {v}")
    failures.extend(_check_annotation_expects(case, _result_ann(res)))
    return failures
