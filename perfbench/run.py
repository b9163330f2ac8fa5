#!/usr/bin/env python3
"""Repository benchmark: STEDI stream latency and light/heavy catalog passes.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads, their frozen query lists and traffic settings are in
perfbench/workloads.json; metric names and bounds are in BENCHMARK.json.
A run builds the harness if its sources changed (perfbench/build.py),
synthesizes the workload's tables from the seed, drives the workload in
one JVM on local[<cores>], checks every output outside the timed region,
and prints one summary line and then one JSON result line. With
--trace 1 it reports the per-layer metrics and writes spans to
.bench_out/. Everything a run writes lives under .bench_run/<run>/ in
the checkout and is removed when the run ends.
"""
import argparse
import json
import math
import os
import re
import resource
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# What a run may take in all, under the 180 s the harness is allowed.
RUN_BUDGET_S = 170


def pct(xs, q):
    """Linear-interpolated percentile, as the JVM side computes it."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def cpu_times():
    """Host CPU seconds from /proc/stat: (steal, busy, total), and the CPU
    seconds of this process's finished children."""
    tick = os.sysconf("SC_CLK_TCK")
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    try:
        with open("/proc/stat") as f:
            xs = [int(x) / tick for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal
        return xs[7], sum(xs[:3]) + sum(xs[5:7]), sum(xs), ru.ru_utime + ru.ru_stime
    except (OSError, IndexError, ValueError):
        return 0, 0, 0, 0


def jvm_opts():
    """The module opens Spark needs on JDK 17, as build.sbt lists them."""
    text = open(os.path.join(ROOT, "build.sbt")).read()
    block = re.search(r"jdk17AddOpens\s*=\s*Seq\((.*?)\)\.flatMap", text, re.S)
    if not block:
        raise SystemExit("run: build.sbt lists no jdk17AddOpens")
    opens = []
    for mod in re.findall(r'"([^"]+)"', block.group(1)):
        opens += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    return opens


class Run:
    def __init__(self, workload, seed, cores, deadline):
        self.seed = seed
        self.cores = cores
        self.deadline = deadline
        self.dir = os.path.join(ROOT, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.data = os.path.join(self.dir, "data")
        self.classes = None
        self.proc = None

    def jvm(self, mode, tag, **kv):
        out = os.path.join(self.dir, f"{tag}.json")
        log = os.path.join(self.dir, f"{tag}.log")
        args = {"data": self.data, "root": self.dir, "cores": self.cores,
                "seed": self.seed, "out": out,
                "launched_ms": int(time.time() * 1000), **kv}
        cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={self.dir}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + jvm_opts()
               + ["-cp", os.pathsep.join([self.classes, build.classpath()]),
                  "perfbench.Main", mode]
               + [f"{k}={v}" for k, v in args.items()])
        with open(log, "w") as lf:
            self.proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                         cwd=self.dir, start_new_session=True)
            try:
                code = self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                self.stop()
                raise SystemExit(f"run: {mode} JVM exceeded the run's time budget")
            finally:
                self.proc = None
        if code != 0 or not os.path.exists(out):
            tail = open(log, errors="replace").read()[-3000:]
            sys.stderr.write(tail)
            raise SystemExit(f"run: {mode} JVM failed with code {code}")
        return json.load(open(out))

    def stop(self):
        if self.proc and self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()

    def tmp_left_mb(self):
        total = 0
        for base, _, files in os.walk(os.path.join(self.dir, "tmp")):
            for f in files:
                try:
                    total += os.lstat(os.path.join(base, f)).st_size
                except OSError:
                    pass
        return total / 1048576.0

    def cleanup(self):
        self.stop()
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))
        except OSError:
            pass  # another run's directory is still there


def catalog_metrics(run, res, names):
    t0 = time.time()
    bad = oracle.check(run.data, os.path.join(run.dir, "outputs"), names)
    phases = dict(res["phases_s"], oracle=time.time() - t0)
    for name, err in res["check_failures"].items():
        bad[name] = err
    failed = len(bad) + len(res["failures"])
    # a query's latency is the median of its timed executions, so one
    # slow execution does not move the run's figures
    q = [pct(v, 0.5) for v in res["per_query_ms"].values()]
    metrics = {
        "pass_s": sum(q) / 1000.0,
        "latency_p50_ms": pct(q, 0.5),
        "latency_p90_ms": pct(q, 0.9),
        "latency_geomean_ms": geomean(q),
        "peak_heap_mb": res["peak_heap_mb"],
    }
    summary = {"passes": res["passes"], "queries_per_pass": len(names),
               "latency_samples": sum(map(len, res["per_query_ms"].values())),
               "phases_s": phases,
               "pass_ms": res["pass_ms"],
               "query_median_ms": {k: round(pct(v, 0.5), 1)
                                   for k, v in sorted(res["per_query_ms"].items())},
               "errors": {**bad, **res["failures"]}}
    return metrics, res["attempted"], failed, summary


def stream_metrics(res, w):
    lat = res["latency_ms"]
    if not lat:
        raise SystemExit("run: the stream emitted no joined rows")
    metrics = {
        "pass_s": pct(res["burst_ms"], 0.5) / 1000.0,
        "latency_p50_ms": pct(lat, 0.5),
        "latency_p90_ms": pct(lat, 0.9),
        "latency_geomean_ms": geomean([max(x, 0.001) for x in lat]),
        "peak_heap_mb": res["peak_heap_mb"],
    }
    summary = {"events": res["attempted"], "latency_samples": len(lat),
               "micro_batches": res["batches"],
               "capacity_eps": res["burst_events"] / (pct(res["burst_ms"], 0.5) / 1000.0),
               "customer_rewrite_share": w["rewrite_share"],
               "non_customer_write_share": w["noise_share"],
               "phases_s": res["phases_s"], "errors": res["mismatch"]}
    return metrics, res["attempted"], res["failed"], summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    a = ap.parse_args()
    started = time.time()

    spec = json.load(open(os.path.join(BENCH, "workloads.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"run: unknown workload {a.workload!r}; "
                         f"known: {sorted(spec['workloads'])}")
    w = spec["workloads"][a.workload]

    run = Run(a.workload, a.seed, a.cores, started + RUN_BUDGET_S)
    signal.signal(signal.SIGTERM, lambda *_: (run.cleanup(), sys.exit(143)))
    try:
        run.classes = build.build()
        # a fresh deadline once built: the first run of a checkout builds
        run.deadline = time.time() + RUN_BUDGET_S
        gen.generate(run.data, w["sf"], spec["data_seed"], tables=w.get("tables"))
        common = {"seconds": a.seconds, "trace": a.trace, "setups": spec["setup_samples"]}
        before = cpu_times()
        if w["kind"] == "catalog":
            names = w["light"] + w["heavy"]
            res = run.jvm("catalog", "main", queries=",".join(names),
                          lsm=",".join(w["lsm"]), **common)
            metrics, attempted, failed, summary = catalog_metrics(run, res, names)
        else:
            res = run.jvm("stream", "main", rate=w["rate_eps"], tick_ms=w["tick_ms"],
                          rewrite_share=w["rewrite_share"], noise_share=w["noise_share"],
                          burst=w["burst_events"], bursts=w["bursts"],
                          trace_triplets=w["trace_triplets"], **common)
            metrics, attempted, failed, summary = stream_metrics(res, w)
        after = cpu_times()
        steal, busy, total, own = (b - a for a, b in zip(before, after))
        # CPU time the hypervisor gave to other guests while this run was
        # runnable: a contaminated run shows here
        summary["host_steal_share"] = round(steal / max(1e-9, total), 3)
        # CPU time other processes on the host used while this run ran
        summary["host_other_cpu_share"] = round(max(0.0, busy - own) / max(1e-9, total), 3)
        metrics["setup_s"] = pct(res["setup_s"], 0.5)
        summary["setup_samples_s"] = res["setup_s"]

        if a.trace:
            layers = dict(res["layers"])
            layers["io.tmp_left_mb"] = run.tmp_left_mb()
            over, noise = layers["trace.overhead_share"], layers["trace.overhead_noise_share"]
            summary["trace_overhead"] = (
                f"{over:+.3f}, " + ("resolved" if abs(over) > noise else "unresolved")
                + f": untraced runs of the same work differ by {noise:.3f}")
            summary["trace_triplets_ms"] = [[round(x, 1) for x in t] for t in res["triplets_ms"]]
            spans = os.path.join(run.dir, "spans.jsonl")
            if os.path.exists(spans):
                out_dir = os.path.join(ROOT, ".bench_out")
                os.makedirs(out_dir, exist_ok=True)
                dest = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
                shutil.copyfile(spans, dest)
                summary["spans_file"] = os.path.relpath(dest, ROOT)
            values, specs = layers, bench["per_layer"]
        else:
            values, specs = metrics, bench["end_to_end"]
        # a layer the workload bypasses reads 0
        report = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                  for m in specs}
    finally:
        run.cleanup()

    summary["error_rate"] = failed / attempted if attempted else 1.0
    summary["wall_s"] = round(time.time() - started, 1)
    print("summary " + json.dumps({"workload": a.workload, "seed": a.seed, **summary}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": report}))


if __name__ == "__main__":
    main()
