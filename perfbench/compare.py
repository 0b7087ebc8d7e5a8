"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py <base_dir> <change_dir>

Each directory holds run results as ``suite.py`` writes them
(``<workload>-s<seed>-t0.json``: the run's last stdout line). For every
workload and end-to-end metric in BENCHMARK.json it prints each side's
median and quartiles, the fraction of seed-paired runs the change wins
(ties count for neither side), and a verdict:

- ``improved``: the change wins at least 9/10 of the pairs and the
  medians differ by more than the base's own quartile spread;
- ``worse``: the change's median is worse than the base's by more than
  the metric's bound;
- ``unresolved``: a side's quartile spread is wider than the bound, so
  "no worse than the bound" cannot be shown — unless every change run
  reads better than every base run;
- ``unchanged``: otherwise.

Exits 1 if any verdict is ``worse`` or ``unresolved``, else 0.
"""
import glob
import json
import os
import statistics
import sys


def load_runs(d):
    runs = {}
    for path in glob.glob(os.path.join(d, "*-t0.json")):
        wl, seed = os.path.basename(path)[:-len("-t0.json")].rsplit("-s", 1)
        res = json.load(open(path))
        runs.setdefault(wl, {})[int(seed)] = {k: v["value"] for k, v in res["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, bound, lower_better):
    b1, bm, b3 = quartiles(base["all"])
    c1, cm, c3 = quartiles(change["all"])
    better = (lambda x, y: x < y) if lower_better else (lambda x, y: x > y)
    pairs = [(base["by_seed"][s], change["by_seed"][s])
             for s in base["by_seed"] if s in change["by_seed"]]
    wins = sum(better(c, b) for b, c in pairs)
    win_frac = wins / len(pairs) if pairs else float("nan")
    worse_by = ((cm - bm) if lower_better else (bm - cm)) / bm if bm else 0.0
    spread = max((b3 - b1) / bm if bm else 0.0, (c3 - c1) / cm if cm else 0.0)
    all_better = all(better(c, b) for c in change["all"] for b in base["all"])
    if pairs and win_frac >= 0.9 and abs(cm - bm) > (b3 - b1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return (b1, bm, b3), (c1, cm, c3), win_frac, worse_by, spread, v


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    here = os.path.dirname(os.path.abspath(__file__))
    spec = json.load(open(os.path.join(here, "..", "BENCHMARK.json")))
    base, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    bad = 0
    print(f"{'workload':16s} {'metric':16s} {'unit':5s} {'base q1/med/q3':>28s} "
          f"{'change q1/med/q3':>28s} {'wins':>5s} {'worse':>7s} {'spread':>7s} {'bound':>6s}  verdict")
    for wl in sorted(set(base) | set(change)):
        if wl not in base or wl not in change:
            print(f"{wl:16s} present on one side only")
            bad += 1
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            sides = []
            for runs in (base[wl], change[wl]):
                by_seed = {s: v[name] for s, v in runs.items() if name in v}
                sides.append({"by_seed": by_seed, "all": list(by_seed.values())})
            if not sides[0]["all"] or not sides[1]["all"]:
                print(f"{wl:16s} {name:16s} missing")
                bad += 1
                continue
            (b1, bm, b3), (c1, cm, c3), win, worse_by, spread, v = verdict(
                sides[0], sides[1], m["bound"], m["better"] == "lower")
            bad += v in ("worse", "unresolved")
            print(f"{wl:16s} {name:16s} {m['unit']:5s} {b1:9.4g}/{bm:9.4g}/{b3:9.4g} "
                  f"{c1:9.4g}/{cm:9.4g}/{c3:9.4g} {win:5.2f} {worse_by:+7.3f} {spread:7.3f} "
                  f"{m['bound']:6.3f}  {v}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
