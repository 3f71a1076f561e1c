"""Property-based parser fuzzing (hypothesis) — grammar-level analogue of
the reference's promqlsmith + go-fuzz harnesses (db/db_test.go:1129-1205):
generated well-formed queries must parse into the expected AST shape, and
arbitrary garbage must fail with PromQLSyntaxError, never an internal error.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from thanos_parquet_gateway_spark.promql import ast as A
from thanos_parquet_gateway_spark.promql.parser import PromQLSyntaxError, parse

# Keywords are lexed case-insensitively (upstream promql/parser/lexer.go key
# lookup lowercases), bare aggregator names are rejected as selectors, and
# bare inf/nan in any case are number literals, so filter against the
# parser's own sets by lowercase.
from thanos_parquet_gateway_spark.promql.ast import AGGREGATION_OPS
from thanos_parquet_gateway_spark.promql.parser import _KEYWORDS

label_names = st.from_regex(r"[a-zA-Z_][a-zA-Z0-9_]{0,10}", fullmatch=True) \
    .filter(lambda s: s.lower() not in _KEYWORDS
            and s.lower() not in AGGREGATION_OPS
            and s.lower() not in ("inf", "nan"))
label_values = st.text(alphabet=st.characters(
    blacklist_characters='"\\\n\r', max_codepoint=0x2000), max_size=12)
ops = st.sampled_from(["=", "!=", "=~", "!~"])
durations = st.sampled_from(["30s", "5m", "1h", "2d", "1w"])
aggs = st.sampled_from(["sum", "avg", "min", "max", "count", "stddev"])
binops = st.sampled_from(["+", "-", "*", "/", "and", "or", "unless"])


@settings(max_examples=200, deadline=None)
@given(name=label_names, lbl=label_names, op=ops, val=label_values)
def test_selector_roundtrip(name, lbl, op, val):
    """metric{lbl op "val"} parses to the exact matcher triple."""
    q = f'{name}{{{lbl}{op}"{val}"}}'
    node = parse(q)
    assert isinstance(node, A.VectorSelector)
    assert node.name == name
    ms = [m for m in node.matchers if m.label == lbl]
    assert ms and ms[0].op == op and ms[0].value == val


@settings(max_examples=100, deadline=None)
@given(name=label_names, dur=durations, agg=aggs, grp=label_names)
def test_structured_queries_parse(name, dur, agg, grp):
    for q, ty in [
        (f"rate({name}[{dur}])", A.Call),
        (f"{agg} by ({grp}) ({name})", A.Aggregation),
        (f"{name}[{dur}:30s]", A.Subquery),
        (f"{name} offset {dur}", A.VectorSelector),
    ]:
        node = parse(q)
        assert isinstance(node, ty), q


@settings(max_examples=100, deadline=None)
@given(a=label_names, b=label_names, op=binops)
def test_binops_parse(a, b, op):
    node = parse(f"{a} {op} {b}")
    assert isinstance(node, A.BinaryExpr) and node.op == op


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=40))
def test_garbage_never_crashes_internally(s):
    """Any input either parses or raises PromQLSyntaxError — no IndexError,
    KeyError, RecursionError, etc."""
    try:
        parse(s)
    except PromQLSyntaxError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=64),
       st.sampled_from(["+", "-", "*", "/"]))
def test_scalar_constant_folding(x, op):
    """scalar ⊗ scalar folds to a float at parse+compile boundary shape."""
    node = parse(f"({x!r}) {op} 2")
    assert isinstance(node, A.BinaryExpr)
    assert isinstance(node.lhs, (A.NumberLiteral, A.UnaryExpr))


@settings(max_examples=200, deadline=None)
@given(name=label_names, lbl=label_names, op=ops, val=label_values,
       dur=durations, agg=aggs, bop=binops, grp=label_names)
def test_printer_fixpoint(name, lbl, op, val, dur, agg, bop, grp):
    """format(parse(q)) reaches a string fixpoint for generated queries —
    the printer never loses or reorders semantics (printer.py contract)."""
    from thanos_parquet_gateway_spark.promql.printer import (
        ast_to_json,
        format_expr,
        prettify,
    )
    sel = f'{name}{{{lbl}{op}"{val}"}}'
    queries = [
        sel,
        f"rate({sel}[{dur}])",
        f"{agg} by ({grp}) (rate({sel}[{dur}]))",
        f"{sel} {bop} {name}",
        f"({sel} {bop} {name})[{dur}:30s] offset {dur}",
        f"topk(3, {sel}) - on ({grp}) group_left {name}",
    ]
    for q in queries:
        once = format_expr(parse(q))
        assert format_expr(parse(once)) == once, q
        assert format_expr(parse(prettify(parse(q)))) == once, q
        ast_to_json(parse(q))  # serializes without error
