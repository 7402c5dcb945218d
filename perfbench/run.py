#!/usr/bin/env python3
"""The engine benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the harness from source (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs the JVM harness
(`perfbench.Main`) on them, checks every output, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The exit code is 0 only if every output check passed.

Workloads (see NOTES.md):
  warehouse_queries  warehouse-surface gates, closed loop
  curation_queries   training-data gates, closed loop
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SCALE = 0.01          # rows: 60k lineitem, 15k orders, 10k events
HEAP = "3g"           # the ceiling; the heap grows on demand
DEADLINE_S = 170      # the whole run, build excluded


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def java_cmd(cp, work, args):
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
             "-XX:+UseG1GC", "-XX:G1HeapRegionSize=32m",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
            + build.java_opts() + ["-cp", cp] + args)


def run_workload(a):
    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload}; known: {names}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    cp = build.build()
    t0 = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, ".work", tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    gen.generate(a.seed, SCALE, data)
    jargs = ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--data", data, "--work", work,
             "--out", os.path.join(work, "record.json")]
    gen_props = {"scale": SCALE, "rows": gen.row_counts(SCALE),
                 "near_dup_share": gen.NEAR_DUP_SHARE,
                 "exact_dup_share": gen.EXACT_DUP_SHARE}
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    if a.trace:
        jargs += ["--spans", os.path.join(runs, f"{tag}.spans.jsonl")]
    print(f"[perfbench] inputs ready at {time.time() - t0:.1f}s", file=sys.stderr)
    budget = DEADLINE_S - (time.time() - t0)
    # Spark must keep its shuffle files inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    r = subprocess.run(java_cmd(cp, work, ["perfbench.Main"] + jargs),
                       stdout=sys.stderr, stderr=sys.stderr, timeout=budget,
                       env=env)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] harness exited with {r.returncode}")
    print(f"[perfbench] harness done at {time.time() - t0:.1f}s", file=sys.stderr)
    with open(os.path.join(work, "record.json")) as f:
        rec = json.load(f)
    checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    gates = rec["detail"]["gate_order"]
    ran = [g for g in sorted(gates)
           if os.path.isdir(os.path.join(work, "results", g))]
    perturb = sorted(sql)[0] if a.perturb_reference else None
    res = oracle.check(data, os.path.join(work, "results"), ran, sql, perturb)
    bad = [f"{g}: {d}" for g, ok, d in res if not ok]
    checks.append(("results_match_oracle", not bad and len(ran) == len(gates),
                   "; ".join(bad) or f"{len(res)} gates"))
    rec["oracle"] = {g: d for g, _, d in res}
    got, want = set(rec["metrics"]), {m["name"] for m in wanted}
    checks.append(("metric_names_match_spec", got == want,
                   f"missing {sorted(want - got)}, extra {sorted(got - want)}"))
    rec["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    rec["generator"] = gen_props
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    if not a.keep_work:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[perfbench] checks done at {time.time() - t0:.1f}s", file=sys.stderr)

    correct = rec["failed"] == 0 and all(ok for _, ok, _ in checks)
    for n, ok, d in checks:
        print(f"[check] {'ok  ' if ok else 'FAIL'} {n}: {d}", file=sys.stderr)
    box = rec["detail"]["box"]
    print(f"[box] nproc={box['nproc']} load_avg_start={box['load_avg_start']}"
          f" load_avg_end={box['load_avg_end']}"
          f" cpu_steal_share={box['cpu_steal_share']:.3f}", file=sys.stderr)
    for m in wanted:
        v = rec["metrics"].get(m["name"], {}).get("value")
        print(f"[metric] {m['name']} = {v} {m['unit']}", file=sys.stderr)
    metrics = {m["name"]: rec["metrics"][m["name"]] for m in wanted
               if m["name"] in rec["metrics"]}
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if correct else 1


def selftest():
    """Harness rules, input determinism, a perturbed reference, oracle
    rewrite equality, and the refusal to run without engine sources."""
    failures = []

    def report(ok, what):
        print(f"[selftest] {'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    cp = build.build()
    r = subprocess.run(java_cmd(cp, os.path.join(HERE, ".work"),
                                ["perfbench.SelfTest"]))
    report(r.returncode == 0, "JVM self-tests")
    scratch = os.path.join(HERE, ".work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    digests = []
    for i in range(2):
        d = os.path.join(scratch, f"gen{i}")
        gen.generate(11, SCALE, d)
        files = sorted(os.path.relpath(os.path.join(p, f), d)
                       for p, _, fs in os.walk(d) for f in fs)
        digests.append({f: open(os.path.join(d, f), "rb").read() for f in files})
    report(digests[0] == digests[1],
           f"same seed gives byte-identical inputs ({len(digests[0])} files)")
    for w in [x["name"] for x in benchmark_spec()["workloads"]]:
        args = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                "--seed", "3", "--seconds", "1", "--trace", "0",
                "--perturb-reference", "--keep-work"]
        p = subprocess.run(args, stdout=subprocess.PIPE, text=True)
        last = (p.stdout.strip().splitlines() or ["{}"])[-1]
        loud = p.returncode != 0 and json.loads(last).get("correct") is False
        report(loud, f"{w}: a perturbed reference fails the run "
                     f"(exit {p.returncode})")
        # the same results against the oracle SQL as stored, without the
        # MATERIALIZED rewrite and without the perturbation
        work = os.path.join(HERE, ".work", f"{w}-s3-t0")
        with open(os.path.join(work, "oracle_sql.json")) as f:
            sql = json.load(f)
        res = oracle.check(os.path.join(work, "data"),
                           os.path.join(work, "results"), sorted(sql), sql,
                           rewrite=False)
        bad = [f"{g}: {d}" for g, ok, d in res if not ok]
        report(not bad, f"{w}: results match the unrewritten oracle SQL "
                        f"({len(res)} gates) {'; '.join(bad)}")
        shutil.rmtree(work, ignore_errors=True)
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".build", ".runs",
                                                  "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "warehouse_queries", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=170)
    report(p.returncode != 0 and not p.stdout.strip(),
           f"refuses to run without the engine sources (exit {p.returncode})")
    shutil.rmtree(scratch, ignore_errors=True)
    print(f"[selftest] {'all passed' if not failures else 'FAILED: ' + '; '.join(failures)}")
    return 1 if failures else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--perturb-reference", action="store_true",
                    help="alter one oracle reference; the run must fail")
    ap.add_argument("--keep-work", action="store_true",
                    help="keep the inputs and results under perfbench/.work")
    a = ap.parse_args()
    try:
        if a.selftest:
            return selftest()
        if not a.workload:
            ap.error("--workload is required")
        return run_workload(a)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    except subprocess.TimeoutExpired:
        print("[perfbench] harness timed out", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
