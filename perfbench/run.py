"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds the program and the
harness from source (cached under ``.bench_build/``), generates the
workload's inputs from the seed, then starts a fresh JVM against the
compiled classes: it does set-up, one cold pass over the workload's ops
and warm passes for ``--seconds`` (at least ``min_warm_passes``). One
client issues one op at a time on ``local[4]``. With ``--trace 1`` the
harness also attaches a SparkListener and a QueryExecutionListener and
reports per-layer numbers.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Each op execution is
one attempt; it fails if it throws or its output check fails (see
``perfbench/README.md``). ``--record`` rewrites the catalog part of
``perfbench/expected.json`` from this run's outputs.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# every JVM of a run must end within this many seconds of the run's start
# (the build excluded), so that a hung run still exits in time
RUN_DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def sf_dir(root, sf):
    """The sf directory as TESTDATA.md, the repo's data manifest, lists it."""
    path = os.path.join(root, "TESTDATA.md")
    if not os.path.exists(path):
        fail("TESTDATA.md not found: run from the root of a graft checkout")
    for line in open(path):
        cells = [c.strip().strip("`") for c in line.split("|")]
        if len(cells) > 2 and cells[1] == sf:
            d = cells[2].rstrip("/")
            if os.path.isdir(d):
                return d
            fail(f"sf{sf} data directory {d} is missing")
    fail(f"TESTDATA.md lists no sf {sf} directory")


def jvm(cp, args, run_dir, log, deadline):
    """Run one harness JVM in its own process group; kill the group if it
    outlives the run's deadline."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # a fixed-size heap, touched in full at start-up and backed by huge
    # pages where the kernel has them, so that no run's timings depend on
    # how G1 grew it or on first-touch page faults; no perf-data file,
    # which the JVM would write outside the checkout
    cmd = (["java", f"-Xms{SPEC['heap']}", f"-Xmx{SPEC['heap']}", "-Xss4m", "-XX:-UsePerfData"]
           + SPEC["jvm_flags"] + [
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + build.ADD_OPENS + ["-cp", cp, "graft.perfbench.Harness"] + args)
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def med(xs):
    return statistics.median(xs) if xs else 0.0


def warm_pass_ms(ops, passes):
    """One warm pass: the sum over its ops of each op's median time over
    `passes`. A pause that lands in one op of one pass (a GC, a stall of
    the host) moves that op's median no further than the next sample,
    where it would move the median pass by its full length."""
    by_op = {}
    for r in ops:
        if r["pass"] in passes:
            by_op.setdefault(r["op"], []).append(r["wall_ms"])
    return sum(med(v) for v in by_op.values())


def evaluate(res, workload, expected, trace):
    """Checks and metrics from the harness's records."""
    floors = expected["floors"]
    cat = expected["catalog"]
    oracle = set(res["oracle_ops"])
    failures = []
    for r in res["ops"]:
        why = r["error"]
        if why is None and r["op"].startswith("q"):
            e = cat.get(r["op"])
            if e is None:
                why = "no recorded output"
            elif r["rows"] != e["rows"]:
                why = f"rows {r['rows']} != {e['rows']}"
            elif r["op"] in oracle and r["digest"] != e["digest"]:
                why = f"digest {r['digest']} != {e['digest']}"
        for key, floor in floors.get(r["op"], {}).items():
            if why is None and r["extra"].get(key, floor) < floor:
                why = f"{key} {r['extra'][key]} < floor {floor}"
        if why is not None:
            failures.append(f"{r['op']} pass {r['pass']}: {why}")

    passes = res["passes"]
    warm = [p for p in passes if p["pass"] > 0]
    bare = [p for p in warm if not p["traced"]]
    ops = res["ops"]
    if not trace:
        print(f"perfbench: {workload}: {len(warm)} warm passes", file=sys.stderr)
        return failures, {
            "setup_s": res["setup_ms"] / 1000.0,
            "cold_pass_s": passes[0]["wall_ms"] / 1000.0,
            "warm_pass_s": warm_pass_ms(ops, {p["pass"] for p in bare}) / 1000.0,
        }

    traced_warm = [p for p in warm if p["traced"]]
    cold = passes[0]["layers"]
    cold_only = {"sources.output_bytes", "memo.gan_build_ms", "memo.kmeans_build_ms",
                 "memo.ivf_write_ms", "memo.knn_graph_build_ms"}
    m = {}
    for name, layer in cold.items():
        m[name] = layer if name in cold_only else med([p["layers"][name] for p in traced_warm])
    exs = [r["extra"] for r in ops]
    acc = [e["head_acc"] for e in exs if "head_acc" in e]
    rec = [e["recall_at_10"] for e in exs if "recall_at_10" in e]
    m.update({
        "session.start_ms": res["session_ms"],
        "sources.resolve_ms": res["resolve_ms"],
        "memo.resident_bytes": res["resident_storage_bytes"],
        "memo_resident_mb": res["resident_storage_bytes"] / 2**20,
        "peak_storage_mb": res["peak_storage_bytes"] / 2**20,
        "gan_head_acc": med(acc),
        "ann_recall_at_10": statistics.mean(rec) if rec else 0.0,
        "error_rate": len(failures) / max(1, len(ops)),
        "trace.warm_overhead_frac": med([p["wall_ms"] for p in traced_warm])
        / med([p["wall_ms"] for p in bare]) - 1.0,
    })
    m.update(res["kernels"])
    return failures, m


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--keep", help="copy the harness's raw records to this file")
    a = ap.parse_args()

    root = os.getcwd()
    if a.workload not in SPEC["workloads"]:
        fail(f"unknown workload {a.workload}")
    wl = SPEC["workloads"][a.workload]
    data = sf_dir(root, SPEC["sf"])
    cp = build.ensure(root)

    area = os.path.join(root, build.AREA)
    t0 = time.time()
    deadline = t0 + RUN_DEADLINE_S
    inputs = gen.generate(os.path.join(area, "inputs"), a.workload, SPEC, a.seed, data,
                          SPEC["max_passes"])
    run_dir = os.path.join(area, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    log = os.path.join(area, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    open(log, "w").close()
    try:
        common = [f"sf={data}", f"inputs={inputs}", f"kinds={','.join(wl['inputs'])}",
                  f"warehouse={os.path.join(run_dir, 'warehouse')}",
                  f"tables={','.join(wl['tables'])}", f"cores={SPEC['cores']}",
                  f"conf.spark.sql.shuffle.partitions={SPEC['cores']}"] + [
                      f"conf.{k}={v}" for k, v in SPEC["session"].items()]
        t1 = time.time()
        out = os.path.join(run_dir, "result.json")
        rc = jvm(cp, [f"out={out}", f"trace={a.trace}",
                      f"seconds={a.seconds}", f"min_warm={wl['min_warm_passes']}",
                      f"orders={os.path.join(inputs, 'orders.txt')}",
                      f"ops={','.join(wl['ops'])}", f"modules={','.join(wl['ops'].values())}",
                      f"prefix={','.join(wl['prefix'])}",
                      f"cold_prefix={','.join(wl['cold_prefix'])}"] + common, run_dir, log,
                 deadline)
        if rc != 0:
            fail(f"harness JVM exited with {rc}; see {log}")
        res = json.load(open(out))
        print(f"perfbench: wall: inputs {t1 - t0:.1f} s, JVM {time.time() - t1:.1f} s",
              file=sys.stderr)
        if a.keep:
            shutil.copy(out, a.keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected = load("expected.json")
    if a.record:
        for r in res["ops"]:
            if r["op"].startswith("q") and r["error"] is None:
                expected["catalog"][r["op"]] = {"rows": r["rows"], "digest": r["digest"]}
        with open(os.path.join(HERE, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    failures, metrics = evaluate(res, a.workload, expected, a.trace == 1)
    for f in failures[:20]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    kind = "per_layer" if a.trace else "end_to_end"
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["ops"]),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in BENCH[kind]},
    }))


SPEC = load("workloads.json")
BENCH = load(os.path.join("..", "BENCHMARK.json"))

if __name__ == "__main__":
    main()
