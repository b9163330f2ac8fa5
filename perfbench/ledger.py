#!/usr/bin/env python3
"""Seed ledger: every catalog query once, with its Spark job count,
stage count and wall time, on the benchmark's generated tables.

The tables are built from `data_seed` in workloads.json, as run.py
builds them, so the ledger sees the inputs the benchmark runs on. The
catalog workload lists in workloads.json were selected from this ledger
by the rule recorded there. Re-run it to re-derive them:

  python3 perfbench/ledger.py --sf 0.01 --out ledger.json
"""
import argparse
import json
import os
import sys
import time

sys.dont_write_bytecode = True
import run as bench  # noqa: E402

ap = argparse.ArgumentParser()
ap.add_argument("--sf", type=float, required=True)
ap.add_argument("--cores", type=int, default=os.cpu_count())
ap.add_argument("--queries", default="*")
ap.add_argument("--out", required=True)
a = ap.parse_args()

data_seed = json.load(open(os.path.join(bench.BENCH, "workloads.json")))["data_seed"]
r = bench.Run("ledger", data_seed, a.cores, time.time() + 3600)
try:
    r.classes = bench.build.build()
    bench.gen.generate(r.data, a.sf, data_seed)
    res = r.jvm("ledger", "ledger", queries=a.queries, seconds=0, trace=1, setups=1)
finally:
    r.cleanup()
with open(a.out, "w") as f:
    json.dump({"sf": a.sf, "data_seed": data_seed, "cores": a.cores,
               "ledger": res["ledger"]}, f, indent=1, sort_keys=True)
print(a.out)
