#!/usr/bin/env python3
"""The repository benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload <dags|queries>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. The first run compiles the program and
the benchmark harness into ``.bench_build/`` (see ``build.py``); later
runs reuse that build while the sources are unchanged.

Each run generates its inputs from ``--seed`` into a fresh directory,
sets up cold (JVM start, Spark session, warmup, salted index builds), runs
the workload for ``--seconds`` with a single client, checks every
operation's output, and prints one JSON line as the last line of
standard output. ``--trace 0`` prints the end-to-end metrics, ``--trace
1`` the per-layer ones from a traced run. A detail record (host, session
conf, every operation, every check) goes to ``.bench_build/results/``.
``--smoke`` shrinks inputs and window so every workload runs in seconds.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
# A fixed heap: the build's G1 resizing flags let the heap shrink under
# load and then pay frequent collections, which made the same run vary by
# seconds; with -Xms = -Xmx the heap never resizes.
HEAP = "3g"
# Input sizes per workload; smoke sizes keep every workload to seconds.
SIZES = {
    "dags": {"train": 500, "test": 125, "docs": 500},
    "query": {"sf": 0.01},
}
SMOKE_SIZES = {
    "dags": {"train": 200, "test": 50, "docs": 500},
    "query": {"sf": 0.001},
}

JVM_FLAGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=32m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def load_queries():
    with open(os.path.join(HERE, "queries.json")) as f:
        return json.load(f)


def host_record():
    return {"nproc": os.cpu_count(), "load": list(os.getloadavg()),
            "python": sys.version.split()[0]}


def make_inputs(workload, seed, run_dir, sizes):
    """A fresh input set; returns (setup entry, generation seconds)."""
    t0 = time.perf_counter()
    tables = os.path.join(run_dir, "tables")
    gen.tables(tables, seed, sizes["query"]["sf"])
    setup = {"tables": tables}
    if workload == "dags":
        s = sizes["dags"]
        setup.update(pbetl=os.path.join(run_dir, "pbetl"), docs=os.path.join(run_dir, "docs"),
                     facts_docs=s["docs"])
        setup["facts"] = gen.pbetl(setup["pbetl"], seed, s["train"], s["test"])
        gen.documents(setup["docs"], seed, s["docs"])
    return setup, time.perf_counter() - t0


def run_jvm(classpath, plan_path, run_dir, env, budget_s):
    """Start the harness, wait for it within budget_s; returns (rc, peak RSS MB)."""
    cmd = [build.java_bin(), f"-Djava.io.tmpdir={run_dir}/tmp"] + JVM_FLAGS + \
        ["-cp", classpath, "graft.perfbench.Harness", plan_path]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.out", "w") as so, open(f"{run_dir}/jvm.err", "w") as se:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=so, stderr=se,
                             start_new_session=True)
        t_end = time.monotonic() + budget_s
        # wait4, not wait: its rusage is this child's own peak RSS
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid == p.pid:
                return os.waitstatus_to_exitcode(status), ru.ru_maxrss / 1024.0
            if time.monotonic() > t_end:
                os.killpg(p.pid, signal.SIGKILL)
                _, _, ru = os.wait4(p.pid, 0)
                return -9, ru.ru_maxrss / 1024.0
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dags", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    classpath = build.ensure(root)  # raises without the program sources

    qspec = load_queries()
    sizes = SMOKE_SIZES if a.smoke else SIZES
    bench_dir = os.path.join(root, ".bench_build")
    run_dir = os.path.join(bench_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host = host_record()
    setup, gen_s = make_inputs(a.workload, a.seed, run_dir, sizes)
    plan = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
            "cpus": os.cpu_count(), "seed": a.seed, "work": run_dir, "setup": setup,
            "out": f"{run_dir}/result.json", "results": f"{run_dir}/results.jsonl",
            "spans": f"{run_dir}/spans.json"}
    if a.workload == "queries":
        plan.update(queries=qspec["floor"] + qspec["heavy"], heavy=qspec["heavy"],
                    modules=qspec["modules"], indexes=qspec["indexes"])
    with open(f"{run_dir}/plan.json", "w") as f:
        json.dump(plan, f)
    env = dict(os.environ, GRAFT_INDEX_ROOT=f"{run_dir}/index")
    budget = DEADLINE_S - (time.monotonic() - t_start)
    rc, rss_mb = run_jvm(classpath, f"{run_dir}/plan.json", run_dir, env, budget)
    try:
        with open(plan["out"]) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {}
    if rc != 0 or "fatal" in res:
        sys.stderr.write(open(f"{run_dir}/jvm.err").read()[-4000:])
        sys.stderr.write(f"\nharness failed (rc={rc}): {res.get('fatal')}\n")
        sys.exit(1)
    host["load_end"] = list(os.getloadavg())
    host["calibration_q05_s"] = res["calibration_q05_s"]

    if a.workload == "dags":
        attempted, failed, e2e, bad = check.dags(res, setup)
    else:
        attempted, failed, e2e, bad = check.queries(res, setup["tables"], plan["results"])
    for k, v in bad.items():
        sys.stderr.write(f"check failed: {k}: {str(v)[:300]}\n")
    e2e["setup_s"] = gen_s + res["setup_s"]
    e2e["live_peak_mb"] = res["live_peak_mb"]
    e2e["rss_peak_mb"] = rss_mb
    units = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "live_peak_mb": "MB"}
    if a.trace:
        metrics = check.per_layer(res, e2e, qspec)
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "smoke": a.smoke, "host": host, "conf": res["conf"], "gen_s": gen_s,
              "end_to_end": e2e, "failed_checks": bad, "metrics": metrics, "result": res}
    out_dir = os.path.join(bench_dir, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(f"{out_dir}/{a.workload}-s{a.seed}-t{a.trace}-{stamp}.json", "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace and os.path.exists(plan["spans"]):
        shutil.copy(plan["spans"], f"{out_dir}/{a.workload}-s{a.seed}-{stamp}-spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
