"""Correctness checks and metric reduction for one benchmark run.

Query results are checked against the program's own DuckDB oracle SQL
(``SparkEntry.oracleSql``) over the same generated tables, with the
compare the project's parity tool uses: columns by sorted name, Arrow
types audited, rows sorted, cells equal exactly (NaN equals NaN). A
repeat of a query must return the same rows as its first execution. DAG
runs are checked against the generator's facts and the memo contract.
"""
import datetime
import json
import math
import os
import statistics

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
ARROW_OK = {"int64", "double", "string", "bool", "date32[day]", "int32"}
EPOCH = datetime.datetime(1970, 1, 1)
PBETL_STAGES = ["LoadData", "LoadTest", "NormDenominators", "FitModel", "Predict",
                "BackTest", "FinalResults"]
CURATE_STAGES = ["QualityGate", "Decontaminate", "DedupCanonical", "Redact", "Mixture",
                 "Pack", "ChunkManifest", "CurationReport"]
MODULES = ["Queries", "Graph", "Dedup", "Similarity", "Curation", "TextAnalysis",
           "Multimodal", "Bpe", "operators"]
SPARK = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
         ("driver_only_s", "s"), ("plan_s", "s"), ("codegen_compiles", "count"),
         ("codegen_compile_s", "s"), ("job_busy_s", "s"), ("executor_run_s", "s"),
         ("executor_cpu_s", "s"), ("utilization", "ratio"), ("shuffle_write_mb", "MB"),
         ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s")]


def per_layer_spec(qspec):
    """(name, unit, better) of every per-layer metric a traced run prints."""
    spec = []
    for st in PBETL_STAGES:
        spec += [(f"pipeline.PbEtl.{st}.s", "s", "lower"),
                 (f"pipeline.PbEtl.{st}.jobs", "count", "lower"),
                 (f"pipeline.PbEtl.{st}.driver_only_s", "s", "lower"),
                 (f"pipeline.PbEtl.{st}.bytes_written_mb", "MB", "lower")]
    spec += [(f"pipeline.CurateDag.{st}.s", "s", "lower") for st in CURATE_STAGES]
    spec += [("pipeline.Runner.memo_check_ms", "ms", "lower"),
             ("pipeline.Runner.memo_hit_ratio", "ratio", "higher")]
    spec += [(f"dag.{m}", u, "lower") for m, u in
             [("pbetl_cold_s", "s"), ("pbetl_warm_ms", "ms"), ("curate_cold_s", "s"),
              ("curate_warm_s", "s")]]
    spec += [(f"{m}.s", "s", "lower") for m in MODULES]
    spec += [(f"query.{q.split('_')[0]}.s", "s", "lower") for q in qspec["heavy"]]
    spec += [("query.floor_pass_s", "s", "lower"), ("query.heavy_pass_s", "s", "lower")]
    spec += [(f"spark.{m}", u, "higher" if m == "utilization" else "lower") for m, u in SPARK]
    spec += [("SaltedIndex.build_s", "s", "lower"), ("CacheScope.cached_peak_mb", "MB", "lower"),
             ("trace.traced_pass_s", "s", "lower"), ("trace.untraced_pass_s", "s", "lower"),
             ("trace.overhead_s", "s", "lower"), ("trace.unaccounted_s", "s", "lower")]
    return spec


# ------------------------------------------------------------- oracle compare

def _canon_duck(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return [_canon_duck(x) for x in v]
    return v


def _canon_spark(v):
    if isinstance(v, dict) and set(v) == {"f"}:
        return float(v["f"])
    if isinstance(v, list):
        return [_canon_spark(x) for x in v]
    return v


def _sorted_rows(rows):
    return sorted(rows, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def _norm_type(t):
    s = str(t)
    if s == "large_string" or s.startswith("string"):
        return "string"
    return "timestamp" if s.startswith("timestamp") else s


def oracle_compare(con, sql, cols, rows):
    """None when the Spark result equals the oracle's, else the reason."""
    duck = con.execute(sql).arrow()
    names = sorted(c for c, _ in cols)
    if names != sorted(duck.column_names):
        return f"schema {names} vs {sorted(duck.column_names)}"
    st = {c: _norm_type(t) for c, t in cols}
    dt = {f.name: _norm_type(f.type) for f in duck.schema}
    for c in names:
        if st[c] != dt[c]:
            return f"type {c}: spark={st[c]} duck={dt[c]}"
        if st[c] not in ARROW_OK:
            return f"type {c}: non-surface {st[c]}"
    idx = {c: i for i, (c, _) in enumerate(cols)}
    a = _sorted_rows([tuple(_canon_spark(r[idx[c]]) for c in names) for r in rows])
    b = _sorted_rows([tuple(_canon_duck(r[c]) for c in names) for r in duck.to_pylist()])
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        if not all(_cell_eq(x, y) for x, y in zip(ra, rb)):
            return f"row {i}: spark={ra} duck={rb}"
    return None


def duck_over(tables_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_results(path):
    with open(path) as f:
        return {r["q"]: r for r in map(json.loads, f)}


# ---------------------------------------------------------------- workloads

def queries(res, tables_dir, results_path):
    """(attempted, failed, end-to-end values, per-query check) for a query workload."""
    first = read_results(results_path)
    con = duck_over(tables_dir)
    verdict = {}
    for q, sql in res["oracle_sql"].items():
        if q not in first:
            verdict[q] = "no result"
            continue
        try:
            verdict[q] = oracle_compare(con, sql, first[q]["cols"], first[q]["rows"])
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[q] = f"oracle error: {e}"
    ops = res["ops"]
    first_digest = {}
    failed = 0
    for o in ops:
        if o["error"] is None:
            first_digest.setdefault(o["op"], o["digest"])
    for o in ops:
        if o["error"] is not None or verdict.get(o["op"]) is not None \
                or o["digest"] != first_digest.get(o["op"]):
            failed += 1
    passes = res["passes"]
    warm = [o for o in ops if o["pass"] >= 2]
    by_q = {}
    for o in warm:
        by_q.setdefault(o["op"], []).append(o["ms"])
    e2e = {"cold_pass_s": passes[0]["s"],
           "pass_s": statistics.median(p["s"] for p in passes[1:]),
           "op_p50_ms": statistics.median(statistics.median(v) for v in by_q.values())}
    lat = sorted(o["ms"] for o in warm)
    # p90 only where at least ten samples lie beyond it
    e2e["op_p90_ms"] = statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None
    bad = {q: v for q, v in verdict.items() if v is not None}
    return len(ops), failed, e2e, bad


def dags(res, setup):
    """(attempted, failed, end-to-end values, failed checks) for the dags workload."""
    d = res["dags"]
    n_warm = len(d["pbetl_warm_s"])
    bad = {c["name"]: c["detail"] for c in res["checks"] if not c["ok"]}
    # the quality stage keeps exactly the documents q57's oracle keeps
    con = duck_over(setup["docs"])
    sql = res["oracle_sql"]["q57_corpus_filter"]
    keep = con.execute(f"SELECT count(*) FROM ({sql}) WHERE verdict = 'keep'").fetchone()[0]
    if keep != res["funnel"]["quality"]:
        bad["curate.funnel.quality_vs_oracle"] = f"{res['funnel']['quality']} vs {keep}"
    if res["funnel"]["raw"] != setup["facts_docs"]:
        bad["curate.funnel.raw"] = f"{res['funnel']['raw']} vs {setup['facts_docs']}"

    def op_failed(prefixes):
        return any(any(n.startswith(p) for p in prefixes) for n in bad)
    failed = int(op_failed(["pbetl.cold."])) + \
        int(op_failed(["curate.cold.", "curate.funnel."]))
    for i in range(1, n_warm + 1):
        failed += int(op_failed([f"pbetl.warm{i}."])) + int(op_failed([f"curate.warm{i}."]))
    pw, cw = d["pbetl_warm_s"], d["curate_warm_s"]
    # a dags pass builds both DAGs into empty work roots; the memo-warm
    # reruns are its operations
    e2e = {"pass_s": d["pbetl_cold_s"] + d["curate_cold_s"],
           "warm_pass_s": statistics.median(p + c for p, c in zip(pw, cw)),
           "op_p50_ms": 1e3 * (statistics.median(pw) + statistics.median(cw)) / 2,
           "pbetl_cold_s": d["pbetl_cold_s"], "curate_cold_s": d["curate_cold_s"],
           "pbetl_warm_ms": 1e3 * statistics.median(pw),
           "curate_warm_s": statistics.median(cw)}
    return 2 + 2 * n_warm, failed, e2e, bad


def per_layer(res, e2e, qspec):
    """Every per-layer metric of a traced run; layers the workload does not
    run read 0."""
    tm = res.get("trace_metrics", {})
    vals = {n: 0.0 for n, _, _ in per_layer_spec(qspec)}
    for k, v in tm.items():
        if k in vals:
            vals[k] = v
    for q, s in res.get("per_query_warm_s", {}).items():
        k = f"query.{q.split('_')[0]}.s"
        if k in vals:
            vals[k] = s
    vals["SaltedIndex.build_s"] = res["index_build_s"]
    vals["CacheScope.cached_peak_mb"] = res.get("cached_peak_bytes", 0) / 1e6
    for m in ("pbetl_cold_s", "curate_cold_s", "pbetl_warm_ms", "curate_warm_s"):
        vals[f"dag.{m}"] = e2e.get(m) or 0.0
    traced, untraced = tm.get("traced_pass_s", 0.0), res.get("untraced_pass_s", 0.0)
    vals["trace.traced_pass_s"] = traced
    vals["trace.untraced_pass_s"] = untraced
    vals["trace.overhead_s"] = traced - untraced
    vals["trace.unaccounted_s"] = traced - tm.get("span_self_s", 0.0)
    units = {n: u for n, u, _ in per_layer_spec(qspec)}
    return {n: {"value": vals[n], "unit": units[n]} for n in units}
