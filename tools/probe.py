"""Per-query timing probe: fresh session, warm scan, converged-min timing of
selected bench queries (same methodology as bench.py's sf0.1 block).

Usage: python tools/probe.py [query ...]        # default: all
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
Prints one JSON line {"queries": {name: sec}, "loadavg": x}.
"""
from __future__ import annotations

import json
import os
import sys
import time

here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, here)


def main():
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import _converged_min, _wait_idle, make_benches
    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.sources.tables import load_table

    spark = get_spark("probe")
    benches = make_benches(spark, sf_dir)
    load_table(spark, sf_dir, "lineitem").limit(1) \
        .write.format("noop").mode("overwrite").save()
    _wait_idle()
    load0 = os.getloadavg()[0]
    out = {}
    for name, fn in benches.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"probe:{name}")
        out[name] = _converged_min(fn, min_reps=4)[0]
    print(json.dumps({"queries": out, "loadavg": load0, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
