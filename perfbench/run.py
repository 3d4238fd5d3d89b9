"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py),
runs one closed-loop JVM (one client thread, `local[nproc]`), checks the
outputs against DuckDB expectations (perfbench/oracle.py) outside the
timed region, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Everything it
writes stays under `.bench_build/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.1
DEADLINE_S = 175
# A fixed, pre-touched 2 GiB heap, a quarter of the engine's 8g cap
# (build.sbt, SPARK_DRIVER_MEM): under the cap alone G1 grows the heap at
# varying times, and peak resident memory jumped between 2.0 and 4.5 GB
# from run to run. GC takes 1-1.5% of a pass at this size (jvm.gc_s);
# heap demand shows in heap_live_mb. The module opens are build.sbt's.
# -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp,
# outside the checkout. -XX:-UseDynamicNumberOfCompilerThreads keeps the
# JIT compiler threads alive, so that their CPU time, which cpu_s leaves
# out (Harness.jitCpuS), never drops out of the per-thread sums.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads"] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def run_jvm(classes, workload, data, work, seconds, trace, out, budget_s):
    env = dict(os.environ)
    local = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_LOCAL_DIR"] = local
    env["SPARK_LOCAL_DIRS"] = local
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Harness",
                                 workload, data, work, str(seconds), str(trace), out]
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"harness exceeded {budget_s:.0f}s; log: {log.name}")
    finally:
        log.close()
    if rc != 0 or not os.path.exists(out):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def check(workload, res, exp, work):
    """Mismatches found outside the timed region, one per wrong result."""
    bad = []
    if workload == "etl_build":
        want = exp["fact_rows"]
        for name, value in res["checks"]:
            if name == "fact_rows" and int(value) != want:
                bad.append(f"fact rows {value} != {want}")
        got = oracle.warehouse_digests(os.path.join(work, "etl"))
        bad += [f"{t}: (rows, distinct keys, digest) {got[t]} != {v}"
                for t, v in exp["digests"].items() if got[t] != v]
    elif workload == "store_churn":
        got = oracle.spark_output_sig(os.path.join(work, "verify", "live"))
        if list(got) != list(exp["live"]):
            bad.append(f"live table {got[1:]} != base rows {exp['live'][1:]}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")

    classes = build.build()
    # inputs of one seed only: other seeds' directories are dropped
    data_root = os.path.join(build.BUILD, "data")
    name = f"seed-{a.seed}-sf{SF}"
    for old in os.listdir(data_root) if os.path.isdir(data_root) else []:
        if old != name:
            shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)
    data = os.path.join(data_root, name)
    gen.generate(a.seed, SF, data)
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    res = run_jvm(classes, a.workload, data, work, a.seconds, a.trace, out,
                  DEADLINE_S - 20 - (time.monotonic() - T0))

    exp = oracle.expected(a.workload, data)
    bad = check(a.workload, res, exp, work)
    for b in bad:
        print(f"[perfbench] wrong result: {b}", file=sys.stderr)
    ops = res["ops"]
    attempted = len(ops)
    failed = min(attempted, sum(not o["ok"] for o in ops) + len(bad))
    correct = failed == 0 and res["setup_failed"] == 0

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": res[section][m["name"]], "unit": m["unit"]}
               for m in spec[section]}
    each = {}
    for o in ops:
        if not o["traced"]:
            each[o["pass"]] = each.get(o["pass"], 0.0) + o["wall_s"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "passes": res["passes"],
                      "pass_walls_s": [round(each[k], 3) for k in sorted(each)],
                      "window_s": res["window_s"], "op_tail": res["op_tail"],
                      "env_start": res["env_start"], "env_end": res["env_end"]}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
