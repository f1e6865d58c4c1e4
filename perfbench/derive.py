#!/usr/bin/env python3
"""Re-derive the frozen query lists of the ``queries`` workload in
``queries.json``: a driver-bound ``floor`` list and an executor-bound
``heavy`` list, run together in one pass.

    python3 perfbench/derive.py [--seed 1]

Runs every registered query on generated tables, at the scale factor
the workload runs at (``run.SIZES``): one pass that records
which salted indexes each query builds (index root emptied before each
query), then two traced passes sorted by name. Queries that fail, or
whose result differs from the DuckDB oracle, are excluded; so are the
rows-only queries, which have no oracle, and queries that read an index
in COSTLY_INDEXES. Of the rest:

* floor candidates: driver-only share of wall time >= 1/3 in both
  passes, where driver-only time is wall time with no Spark job running;
* heavy candidates: wall time between HEAVY_MIN_S and HEAVY_MAX_S
  with jobs running >= 80% of it, in both passes.

The floor list first takes each module's cheapest candidate, so that
every module's layer time is measured; the derivation fails if a module
has no candidate or these picks alone exceed the pass budget. Then both
lists take candidates in order of their share (floor: highest first,
heavy: lowest first), skipping any that would push the summed
second-pass wall time past the list's pass budget, so that a full
measurement (4 + 22 runs per workload) ends within 3420 s.
The per-query figures behind the choice go to ``derivation.json``.
"""
import argparse
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

HEAVY_MIN_S, HEAVY_MAX_S = 1.0, 5.0
PASS_BUDGET_S = {"floor": 4.0, "heavy": 2.5}
# Salted indexes left out: each listed index is built in every run's
# setup, and each of these took 1 s or more per warm build at sf0.01 on
# 4 cores. tradearcs is kept, because every driver-bound Graph query
# reads it or copurchase.
COSTLY_INDEXES = {"clusters", "copurchase", "custpart", "dedup", "ivf", "postings", "pq"}


def module_table(root):
    """query -> module, read from the registry's source: the object a
    query function lives in (the Queries* split counts as Queries)."""
    src = open(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")).read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    pat = r'"(q\d+_\w+)"\s*->\s*\(+(?:s: SparkSession, \w+: String\) => )?([A-Za-z_.]+)'
    return {q: f.split(".")[0] for q, f in re.findall(pat, body)}


def analyze(res, first, con):
    """Per-query figures and, for each, why it is excluded (or None)."""
    rows = {}
    for q, d in sorted(res["derive"].items()):
        p1, p2 = d["passes"]
        bad = p1["error"] or p2["error"]
        if not bad and q in res["oracle_sql"]:
            r = first.get(q)
            bad = "no result" if r is None else \
                check.oracle_compare(con, res["oracle_sql"][q], r["cols"], r["rows"])
        elif q in res["rows_only"]:
            bad = "rows-only"
        share = [1 - p["busy_s"] / p["wall_s"] if p["wall_s"] > 0 else 0 for p in (p1, p2)]
        rows[q] = {"module": d["module"], "indexes": d["indexes"], "excluded": bad,
                   "driver_only_share": share, "passes": [p1, p2]}
    return rows


def select(rows):
    """(floor candidates, heavy candidates, the lists within their budgets)."""
    floor, heavy = [], []
    for q, r in rows.items():
        if r["excluded"] or COSTLY_INDEXES & set(r["indexes"]):
            continue
        share = r["driver_only_share"]
        walls = [p["wall_s"] for p in r["passes"]]
        if min(share) >= 1 / 3:
            floor.append((-min(share), q))
        if HEAVY_MIN_S <= min(walls) and max(walls) <= HEAVY_MAX_S and max(share) <= 0.2:
            heavy.append((max(share), q))

    def fit(cands, budget, picked=()):
        picked = list(picked)
        total = sum(rows[q]["passes"][1]["wall_s"] for q in picked)
        if total > budget:
            raise SystemExit(f"module picks {picked} take {total:.2f} s > {budget} s")
        for _, q in sorted(cands):
            w = rows[q]["passes"][1]["wall_s"]
            if q not in picked and total + w <= budget:
                picked.append(q)
                total += w
        return sorted(picked)

    cheapest = {}
    for _, q in floor:
        m = rows[q]["module"]
        if m not in cheapest or \
                rows[q]["passes"][1]["wall_s"] < rows[cheapest[m]]["passes"][1]["wall_s"]:
            cheapest[m] = q
    missing = [m for m in check.MODULES if m not in cheapest]
    if missing:
        raise SystemExit(f"no floor candidate for modules {missing}")
    return floor, heavy, {"floor": fit(floor, PASS_BUDGET_S["floor"], sorted(cheapest.values())),
                          "heavy": fit(heavy, PASS_BUDGET_S["heavy"])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    sf = run.SIZES["query"]["sf"]
    root = os.getcwd()
    run_dir = os.path.join(root, ".bench_build", "derive")
    tables = os.path.join(run_dir, "tables")
    modules = module_table(root)
    classpath = build.ensure(root)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen.tables(tables, a.seed, sf)
    plan = {"workload": "derive", "seconds": 0, "trace": True, "cpus": os.cpu_count(),
            "seed": a.seed, "work": run_dir, "setup": {"tables": tables},
            "modules": modules, "out": f"{run_dir}/result.json",
            "results": f"{run_dir}/results.jsonl", "spans": f"{run_dir}/spans.json"}
    with open(f"{run_dir}/plan.json", "w") as f:
        json.dump(plan, f)
    env = dict(os.environ, GRAFT_INDEX_ROOT=f"{run_dir}/index")
    rc, _ = run.run_jvm(classpath, f"{run_dir}/plan.json", run_dir, env, 3600)
    if rc != 0:
        raise SystemExit(f"derive run failed (rc={rc}), see {run_dir}/jvm.err")
    with open(plan["out"]) as f:
        res = json.load(f)
    freeze(res, plan, tables, a.seed, sf)


def freeze(res, plan, tables, seed, sf):
    """Choose the lists from a derivation run's output and write
    ``queries.json`` and ``derivation.json``."""
    rows = analyze(res, check.read_results(plan["results"]), check.duck_over(tables))
    floor, heavy, lists = select(rows)
    spec = {
        "derived_from": {
            "seed": seed, "sf": sf, "nproc": plan["cpus"],
            "passes": 2, "traced": True,
            "rules": {"floor": "driver-only share >= 1/3 in both passes",
                      "heavy": f"{HEAVY_MIN_S} s <= wall <= {HEAVY_MAX_S} s and "
                               "jobs busy >= 80%, in both passes",
                      "skipped_indexes": sorted(COSTLY_INDEXES),
                      "pass_budget_s": PASS_BUDGET_S,
                      "floor_module_picks": "each module's cheapest candidate"},
            "index_build_s": res["index_build_by_name_s"],
            "candidates": {"floor": len(floor), "heavy": len(heavy)},
            "excluded": {q: str(r["excluded"])[:200] for q, r in rows.items() if r["excluded"]}},
        "modules": plan["modules"],
        "floor": lists["floor"],
        "heavy": lists["heavy"],
        "indexes": sorted({i for qs in lists.values() for q in qs for i in rows[q]["indexes"]}),
    }
    with open(os.path.join(HERE, "queries.json"), "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(os.path.join(HERE, "derivation.json"), "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(spec["derived_from"]["candidates"]), json.dumps(lists))


if __name__ == "__main__":
    main()
