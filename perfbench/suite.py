"""Build the program and the harness, run every workload, print every metric.

    python3 perfbench/suite.py [--seeds 1,2,3] [--out DIR] [--traced]
                               [--workloads a,b] [--seconds S]

Runs ``run.py`` once per workload and seed (untraced) and, with
``--traced``, once more per workload with tracing on. Each run's result
line goes to ``DIR/<workload>-s<seed>-t<trace>.json`` and its raw harness
records to ``DIR/raw/``; with ``--traced`` the per-layer report
(``report.py``) is written to ``DIR/report.txt``. Prints each workload's
end-to-end metrics by name and unit (median over the seeds), plus the
median and tail per-op warm latency over all runs' warm op samples
pooled, and exits 1 if any run failed an output check or did not finish.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def pooled(out, wl, seeds):
    """Warm op latencies of the untraced runs, pooled: their median and
    the highest whole percentile with at least ten samples beyond it."""
    xs = []
    for seed in seeds:
        path = os.path.join(out, "raw", f"{wl}-s{seed}-t0.json")
        if os.path.exists(path):
            xs += [r["wall_ms"] for r in json.load(open(path))["ops"] if r["pass"] > 0]
    if len(xs) < 20:
        return None
    pct = int(100 * (1 - 10 / len(xs)))
    return (statistics.median(xs), pct,
            statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], len(xs))


def main():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--out", default=os.path.join(".bench_build", "results"))
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    os.makedirs(os.path.join(a.out, "raw"), exist_ok=True)
    seeds = [int(s) for s in a.seeds.split(",")]
    ok = True
    for wl in a.workloads.split(","):
        runs = [(s, 0) for s in seeds] + ([(seeds[0], 1)] if a.traced else [])
        values = {}
        for seed, trace in runs:
            tag = f"{wl}-s{seed}-t{trace}"
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(trace),
                 "--keep", os.path.join(a.out, "raw", tag + ".json")],
                stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{tag}: run failed (exit {p.returncode})")
                ok = False
                continue
            res = json.loads(lines[-1])
            with open(os.path.join(a.out, tag + ".json"), "w") as f:
                f.write(lines[-1] + "\n")
            if not res["correct"]:
                print(f"{tag}: {res['failed']} of {res['attempted']} op executions failed checks")
                ok = False
            if trace == 0:
                for k, v in res["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
        print(f"{wl}  (median of {len(seeds)} seed(s))")
        for m in spec["end_to_end"]:
            v = values.get(m["name"])
            shown = f"{statistics.median(v):.4f}" if v else "missing"
            print(f"  {m['name']:18s} {shown:>12s} {m['unit']}")
        ops = pooled(a.out, wl, seeds)
        if ops:
            p50, pct, tail, n = ops
            print(f"  {'warm_op_p50_ms':18s} {p50:12.4f} ms")
            print(f"  {'warm_op_tail_ms':18s} {tail:12.4f} ms  (p{pct})")
            print(f"  (warm op latencies: {n} samples pooled over {len(seeds)} run(s))")
    if a.traced:
        with open(os.path.join(a.out, "report.txt"), "w") as f:
            subprocess.run([sys.executable, os.path.join(HERE, "report.py"), a.out], stdout=f)
        print(f"per-layer report: {os.path.join(a.out, 'report.txt')}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
