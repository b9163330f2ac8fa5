"""Output checks for the catalog workload.

Each query's result, written once per run as parquet outside the timed
region, is compared with its DuckDB oracle (`SparkEntry.oracleSql`) by
the repository's own checker, `tools/check.py`, so the benchmark judges
outputs under exactly the rules the repository's correctness gate uses.
A query without an oracle must produce a readable, non-empty result.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKER = os.path.join(ROOT, "tools", "check.py")


def check(data_dir, out_dir, names):
    """Returns {query: reason} for every listed query whose output is wrong."""
    bad = {n: "no output written" for n in names
           if not os.path.isdir(os.path.join(out_dir, n))}
    rest = [n for n in names if n not in bad]
    if not rest:
        return bad
    p = subprocess.run([sys.executable, CHECKER, data_dir, out_dir, *rest],
                       capture_output=True, text=True)
    if "== " not in p.stdout:  # the checker itself failed
        raise SystemExit(f"run: tools/check.py failed:\n{p.stderr[-2000:]}")
    for line in p.stdout.splitlines():
        verdict, _, rest_of_line = line.partition(" ")
        name = rest_of_line.split(":")[0].split(" ")[0]
        if verdict == "FAIL":
            bad[name] = rest_of_line[len(name) + 1:].strip()[:200]
        elif verdict == "WARN":  # a rows-only output with no rows
            bad[name] = "empty result (no oracle: row-count check)"
    return bad
