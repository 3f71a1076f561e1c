"""Plan-quality audit: prints physical plans for the headline paths and
checks the scale-critical properties (SURVEY.md §4):

- matcher filters reach the parquet scan (PushedFilters),
- scans read only needed columns (ReadSchema pruning),
- small dimension joins broadcast (BroadcastHashJoin),
- no driver-side collects inside operators,
- all-pairs operators run their pair stage above the small-scan spread,
  and score pairs with the compiled tsq_dot kernel.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(df) -> str:
    """The physical plan as an indented tree (one node per line)."""
    return df._jdf.queryExecution().executedPlan().toString()


def subtree(tree: str, node: str) -> str | None:
    """Lines of the first node matching regex ``node`` and of everything
    below it (deeper-indented lines), or None when no node matches."""
    lines = tree.splitlines()
    for i, ln in enumerate(lines):
        if re.search(node, ln):
            depth = len(ln) - len(ln.lstrip(" :|+-"))
            out = [ln]
            for child in lines[i + 1:]:
                if len(child) - len(child.lstrip(" :|+-")) <= depth:
                    break
                out.append(child)
            return "\n".join(out)
    return None


def check(name: str, plan: str, expectations: list[tuple[str, str]]):
    print(f"\n=== {name} ===")
    ok = True
    for desc, pattern in expectations:
        hit = re.search(pattern, plan) is not None
        print(f"  [{'OK' if hit else 'MISS'}] {desc}")
        ok &= hit
    if not ok:
        print(plan)
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import functions as F
    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.operators import dedup, similarity
    from thanos_parquet_gateway_spark.plans import entry_queries as EQ
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events
    from thanos_parquet_gateway_spark.sources.tables import load_table

    spark = get_spark("explain_audit")
    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=EQ.LOOKBACK, deterministic=False)
    results = []

    # The exact ms-window filter is an expression over the raw ts column —
    # `ts div 1000000` on the nanosAsLong read, `unix_millis(cast(ts))` on
    # the TIMESTAMP_NTZ read — and shows up as a row-level Filter; the
    # conservative literal restatement on __ts_raw is what reaches
    # PushedFilters (compiler._selector_base).
    TS_ROW_FILTER = r"(?:div 1000000\) > \d+|unix_millis\()"
    TS_PUSHED = r"PushedFilters: \[[^\]]*GreaterThan(?:OrEqual)?\(ts,"

    # 1. instant selector: name/matcher filters must push to the events scan
    q1 = eng.query_instant('click{user=~"1.*", shard!="3"}', EQ.T).df
    results.append(check("promql instant selector", plan_of(q1), [
        ("name equality pushed to scan",
         r"PushedFilters: \[.*EqualTo\(event_type,click\)"),
        ("ts window filtered at scan stage", TS_ROW_FILTER),
        ("ts window pushed to parquet stats", TS_PUSHED),
    ]))

    # 2. range rate: grid explode must be map-side (no join against a grid)
    q2 = eng.query_range("rate(click[2d])", EQ.R_START, EQ.R_END, EQ.STEP).df
    p2 = plan_of(q2)
    results.append(check("promql range rate", p2, [
        ("name filter pushed", r"PushedFilters: \[.*EqualTo\(event_type,click\)"),
        ("time-window filter before explode", TS_ROW_FILTER),
        ("ts window pushed to parquet stats", TS_PUSHED),
        # r12: the production rate path attaches per-series lag BEFORE the
        # grid explode, so samples cross the network exactly once — one
        # sig-keyed exchange feeds the lag Window AND (partitioning on sig
        # satisfies grouping on (t, hash, sig)) the window aggregation,
        # which is a native partial/final HashAggregate, not a collect fold.
        ("samples shuffled once: sig-keyed exchange shared by lag + agg",
         r"hashpartitioning\(sig#\d+"),
        ("window stats aggregate natively", r"\(\d+\) HashAggregate"),
    ]))
    if "CartesianProduct" in p2:
        print("  [MISS] cartesian grid join present")
        results.append(False)
    n_exch2 = len(re.findall(r"\(\d+\) Exchange", p2))
    if n_exch2 != 1:
        print(f"  [MISS] rate path has {n_exch2} shuffle exchanges (want exactly 1)")
        results.append(False)
    if re.search(r"\(\d+\) (?:Sort|Object)Aggregate", p2):
        print("  [MISS] rate aggregation fell off the hash-aggregate path")
        results.append(False)

    # 2b. metadata scan (/series): raw-layout ts bounds must reach parquet
    # stats there too (Compiler._selector_base pushable_ts_window, the
    # selection /series shares with PromQL)
    q2b = eng.series(["click"], EQ.R_START, EQ.T)
    results.append(check("series metadata scan", plan_of(q2b), [
        ("name filter pushed", r"PushedFilters: \[.*EqualTo\(event_type,click\)"),
        ("ts bounds pushed to parquet stats", TS_PUSHED),
    ]))

    # 2c. PromQL topk/bottomk/limitk: two-phase partial top-k keyed on
    # (t, group-hash, spark_partition_id) — NO per-(step, group) Window
    # ranking (was the last single-reducer shape in the codebase; the
    # reference pushes 1.5M series through Select with no single-partition
    # stage, db/db_bench_test.go:143-307).
    for expr in ("topk(3, click)", "bottomk(2, click)",
                 "limitk(2, click)"):
        qk = eng.query_instant(expr, EQ.T).df
        pk = plan_of(qk)
        okk = check(f"promql two-phase {expr.split('(')[0]}", pk, [
            ("phase-1 partial rank groups on spark_partition_id",
             r"SPARK_PARTITION_ID|spark_partition_id"),
        ])
        if re.search(r"\(\d+\) Window", pk):
            print("  [MISS] single-reducer Window ranking present")
            okk = False
        results.append(okk)

    # 3. tpch q3: dimension joins must broadcast
    q3 = EQ.QUERIES["tpch_q3_shipping"](spark, sf_dir)
    results.append(check("tpch q3", plan_of(q3), [
        ("broadcast join used", r"BroadcastHashJoin"),
        ("orders date filter pushed", r"PushedFilters: \[.*LessThan\(o_orderdate"),
        ("lineitem shipdate filter pushed",
         r"PushedFilters: \[.*GreaterThan\(l_shipdate"),
    ]))

    # 4. LSH: hashing spread across partitions; single hashing pass; the
    # doc_id partitioning must be reused across shingle-dedup/minhash/band
    # aggregations (few exchanges)
    q4 = dedup.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
    p4 = plan_of(q4)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", p4))
    n_exch = len(re.findall(r"\(\d+\) Exchange", p4))
    print(f"\n=== dedup lsh ===\n  parquet scans: {n_scans} (want 1), "
          f"exchanges: {n_exch} (want <=3)")
    results.append(n_scans == 1 and n_exch <= 3)

    # 5. similarity topk: corpus side stays partitioned, query side broadcast
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    q5 = similarity.brute_force_topk(emb, q, k=5)
    results.append(check("similarity topk", plan_of(q5), [
        ("query side broadcast", r"Broadcast(NestedLoopJoin|ExchangeExec|Exchange)"),
    ]))

    # 5b. ALL four rankers must use the two-phase partial top-k: phase 1
    # groups on (query_id, spark_partition_id()) so no reducer sees more
    # than one input split, and no exchange moves more than partitions×k
    # rows into the final per-query merge.  A Window node would mean the
    # old single-reducer-per-query global ranking is back.
    rankers = {
        "brute_force": q5,
        "lsh": similarity.lsh_topk(
            emb, q, planes=[[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62],
            k=5),
        "ivf": similarity.ivf_topk(emb, q, k=5, nlist=4, nprobe=2),
        "pq": similarity.pq_topk(emb, q, k=5, m=4, n_codes=8, dim=64),
        "ivfpq": similarity.ivfpq_topk(emb, q, k=5, nlist=4, nprobe=2,
                                       m=4, n_codes=8, dim=64),
        "ivfpq_residual": similarity.ivfpq_topk(emb, q, k=5, nlist=4,
                                                nprobe=2, m=4, n_codes=8,
                                                dim=64, residual=True),
    }
    for rname, rdf in rankers.items():
        rp = plan_of(rdf)
        results.append(check(f"two-phase topk: {rname}", rp, [
            ("phase-1 partial rank groups on spark_partition_id",
             r"SPARK_PARTITION_ID|spark_partition_id"),
        ]))
        if re.search(r"\(\d+\) Window", rp):
            print("  [MISS] single-reducer Window ranking present")
            results.append(False)

    # 6. decontamination: the benchmark gram set must be the BROADCAST side
    # (the corpus is never shuffled on gram text)
    q6 = EQ.QUERIES["text_decontaminate"](spark, sf_dir)
    results.append(check("text decontaminate", plan_of(q6), [
        ("benchmark gram set broadcast",
         r"BroadcastHashJoin|BroadcastExchange"),
    ]))

    # 7. semantic dedup: centroid attach is a broadcast nested loop against
    # the one-row centroid array — the corpus never shuffles for assignment
    q7 = similarity.semantic_dedup(emb, k_clusters=4, threshold=0.35)
    p7 = plan_of(q7)
    results.append(check("semantic dedup", p7, [
        ("centroid array broadcast", r"BroadcastNestedLoopJoin"),
    ]))
    if "CartesianProduct" in p7:
        print("  [MISS] cartesian corpus join present")
        results.append(False)

    # 7b. all-pairs operators on the one-file embeddings: the pair join
    # must sit above the small-scan round-robin spread, or its per-pair
    # cosines run in the single scan task
    pair_joins = {
        "semantic dedup pair join": (q7, r"Join \[cell#\d+\], \[cell#"),
        "near-dup banded": (
            similarity.embedding_near_dup_pairs(emb, threshold=0.35,
                                                bits_per_band=1),
            r"Join \[band#\d+, key#"),
        "near-dup all-pairs": (
            similarity.embedding_near_dup_pairs(emb, threshold=0.35,
                                                all_pairs=True),
            r"(?:NestedLoopJoin|CartesianProduct).*id_a#\d+L < id_b#"),
    }
    for jname, (jdf, join) in pair_joins.items():
        results.append(check(jname, subtree(tree_of(jdf), join) or "", [
            ("RoundRobinPartitioning below the pair join",
             r"RoundRobinPartitioning"),
        ]))
    # the pair cosines call the compiled tsq_dot kernel, not the
    # interpreted aggregate(zip_with) fold
    for jname in ("semantic dedup pair join", "near-dup all-pairs"):
        kp = tree_of(pair_joins[jname][0])
        results.append(check(f"{jname} kernel", kp, [
            ("cosine calls tsq_dot", r"tsq_dot\("),
        ]))
        if "aggregate(zip_with(" in kp:
            print("  [MISS] interpreted aggregate(zip_with( fold present")
            results.append(False)
    # the candidate ids reach the rescoring through an explicit-count
    # exchange placed after the map-side dedup aggregate: AQE never
    # coalesces it
    results.append(check("near-dup banded rescoring",
                         tree_of(pair_joins["near-dup banded"][0]), [
        ("REPARTITION_BY_NUM exchange above the pair dedup",
         r"Exchange \S+, REPARTITION_BY_NUM.*\n.*"
         r"HashAggregate\(keys=\[id_a#\d+L, id_b#"),
    ]))

    # 7c. Jaccard: the interpreted shingle lambda runs once per side of
    # the self-join — no size side-table, no inferred filter re-running it
    n_sh = plan_of(EQ.QUERIES["dedup_jaccard"](spark, sf_dir)).count(
        "array_distinct(transform(")
    print(f"\n=== dedup jaccard ===\n  [{'OK' if n_sh == 2 else 'MISS'}] "
          f"shingle lambda occurrences: {n_sh} (want 2)")
    results.append(n_sh == 2)

    # 8. product quantization: codebook + query tables attach via broadcast
    # nested loops; the corpus is never shuffled (encoding and ADC scoring
    # are map-side) — the only exchange is the per-query top-k window
    q8 = similarity.pq_topk(emb, q, k=5, m=4, n_codes=8, dim=64)
    p8 = plan_of(q8)
    results.append(check("pq topk", p8, [
        ("codebook/query broadcast", r"BroadcastNestedLoopJoin"),
    ]))
    if "CartesianProduct" in p8 or "SortMergeJoin" in p8:
        print("  [MISS] corpus shuffle join present in pq plan")
        results.append(False)

    # 9. NO entry-query plan may rank through a single-partition Window
    # (Window whose input exchange is SinglePartition = one reducer sees
    # the whole input; at 100 TB that's an OOM, VERDICT r7 #5).  Global
    # scalar aggregates (HashAggregate over Exchange SinglePartition) are
    # fine — they move one row per partial — so only Window is flagged.
    bad = []
    for qname in sorted(EQ.QUERIES):
        if qname.startswith("stream_"):
            # streaming registry entries RUN an availableNow job as a side
            # effect and return a read of their own sink — the returned
            # plan is a bare parquet scan (nothing to audit), and running
            # four streaming drains makes the sweep minutes slower
            continue
        try:
            plan = plan_of(EQ.QUERIES[qname](spark, sf_dir))
        except Exception as exc:  # plan-only build failed: surface it
            bad.append(f"{qname} (plan build failed: {exc})")
            continue
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if re.search(r"\bWindow\b", ln):
                # physical shape is Window <- Sort <- Exchange; the child
                # exchange appears within the next few tree lines
                seg = "\n".join(lines[i:i + 4])
                if "Exchange SinglePartition" in seg:
                    bad.append(qname)
                    break
    print(f"\n=== single-partition Window sweep ({len(EQ.QUERIES)} queries) "
          f"===\n  [{'OK' if not bad else 'MISS'}] offenders: {bad or 'none'}")
    results.append(not bad)

    print(f"\n{'ALL OK' if all(results) else 'SOME CHECKS MISSED'}")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
