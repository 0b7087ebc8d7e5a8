"""Per-layer report of a traced run, written beside the run results.

    python3 perfbench/report.py <results_dir>

Reads what ``suite.py --traced`` leaves in ``<results_dir>``: the traced
run's result line (``<workload>-s<seed>-t1.json``), its raw harness
records (``raw/``) and the untraced runs' result lines. For each workload
it prints

- every per-layer metric of BENCHMARK.json with its unit;
- span self times per pass: an op span's self time is its wall time
  minus its ``build`` (``QueryDef.fn``), ``plan`` (forcing
  ``executedPlan``) and ``execute`` (the action) children;
- each op's cold and warm wall time with its build, plan and execute
  parts;
- the tracing overhead: the traced run's cold pass and traced warm passes
  against the untraced runs' medians of ``cold_pass_s`` and
  ``warm_pass_s``, and the traced against the bare warm passes inside the
  traced run.
"""
import glob
import json
import os
import statistics
import sys


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def spans(raw, passes):
    """Median over `passes` of the per-pass totals and self times."""
    rows = {}
    for p in passes:
        ops = [r for r in raw["ops"] if r["pass"] == p]
        kids = {k: sum(r[f"{k}_ms"] for r in ops) for k in ("build", "plan", "exec")}
        wall = sum(r["wall_ms"] for r in ops)
        cur = {"op": (wall, max(0.0, wall - sum(kids.values()))),
               "build": (kids["build"], kids["build"]),
               "plan": (kids["plan"], kids["plan"]),
               "execute": (kids["exec"], kids["exec"])}
        for k, v in cur.items():
            rows.setdefault(k, []).append(v)
    return {k: (med([a for a, _ in v]), med([b for _, b in v])) for k, v in rows.items()}


def main():
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    d = sys.argv[1]
    here = os.path.dirname(os.path.abspath(__file__))
    spec = json.load(open(os.path.join(here, "..", "BENCHMARK.json")))
    for path in sorted(glob.glob(os.path.join(d, "*-t1.json"))):
        tag = os.path.basename(path)[:-len(".json")]
        wl = tag.rsplit("-s", 1)[0]
        res = json.load(open(path))
        raw = json.load(open(os.path.join(d, "raw", tag + ".json")))
        print(f"== {wl} (traced run {tag})")
        print(f"  {'per-layer metric':34s} {'value':>14s}  unit")
        for m in spec["per_layer"]:
            v = res["metrics"].get(m["name"], {}).get("value")
            print(f"  {m['name']:34s} {v if v is None else f'{v:14.6g}'}  {m['unit']}")

        traced = [p["pass"] for p in raw["passes"] if p["traced"] and p["pass"] > 0]
        print(f"\n  span self times, ms per pass (cold pass | median of traced warm passes)")
        cold, warm = spans(raw, [0]), spans(raw, traced)
        for k in ("op", "build", "plan", "execute"):
            print(f"  {k:10s} total {cold[k][0]:10.1f} | {warm[k][0]:10.1f}   "
                  f"self {cold[k][1]:10.1f} | {warm[k][1]:10.1f}")

        print(f"\n  {'op':32s} {'module':9s} {'cold ms':>9s} {'warm ms':>9s} "
              f"{'build':>8s} {'plan':>8s} {'execute':>9s}   (warm: median of all warm passes)")
        names = dict.fromkeys(r["op"] for r in raw["ops"])
        for name in names:
            rs = [r for r in raw["ops"] if r["op"] == name]
            c = [r for r in rs if r["pass"] == 0]
            w = [r for r in rs if r["pass"] > 0]
            cw = f"{c[0]['wall_ms']:9.1f}" if c else f"{'-':>9s}"
            print(f"  {name:32s} {rs[0]['module']:9s} {cw} {med([r['wall_ms'] for r in w]):9.1f} "
                  f"{med([r['build_ms'] for r in w]):8.1f} {med([r['plan_ms'] for r in w]):8.1f} "
                  f"{med([r['exec_ms'] for r in w]):9.1f}")

        untraced = [json.load(open(f))["metrics"]
                    for f in glob.glob(os.path.join(d, f"{wl}-s*-t0.json"))]
        cold_t = raw["passes"][0]["wall_ms"] / 1000.0
        warm_t = med([p["wall_ms"] for p in raw["passes"] if p["pass"] in traced]) / 1000.0
        print("\n  tracing overhead")
        if untraced:
            cold_u = med([m["cold_pass_s"]["value"] for m in untraced])
            warm_u = med([m["warm_pass_s"]["value"] for m in untraced])
            print(f"  cold_pass_s  traced {cold_t:8.3f}  untraced median {cold_u:8.3f}  "
                  f"({cold_t / cold_u - 1:+.1%}, {len(untraced)} untraced runs)")
            print(f"  warm_pass_s  traced {warm_t:8.3f}  untraced median {warm_u:8.3f}  "
                  f"({warm_t / warm_u - 1:+.1%})")
        frac = res["metrics"].get("trace.warm_overhead_frac", {}).get("value")
        if frac is not None:
            print(f"  in-run traced vs bare warm passes: {frac:+.1%}")
        print()


if __name__ == "__main__":
    main()
