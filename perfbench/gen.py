"""Seeded input generators for the benchmark.

Two families, both deterministic in (seed, size):

* ``tables``: the ten query tables (region, nation, supplier, customer,
  part, orders, lineitem, events, documents, embeddings) as one parquet
  file each, with the same schemas and value distributions as the
  project's TPC-H-style fixtures. The seed moves every value; row counts
  follow the scale factor.
* ``pbetl``: the pb-etl domain CSVs in the layout ``pipeline.Schemas``
  reads (train/attr, train/tscore, test/attr, test/tscore, results). The
  seed also moves category cardinalities and the class balance, and a
  share of attr keys get no tscore row so the left-outer join's null
  path runs.

``pbetl`` returns the facts the benchmark later checks the program's
outputs against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "green", "hot", "cold", "new", "old", "small", "large",
         "shiny", "heavy", "light", "smooth"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_1995 = 788_918_400  # 1995-01-01 UTC, seconds
EPOCH_2024 = 1_704_067_200  # 2024-01-01 UTC, seconds


def _ts_us(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def docs_table(rng, n):
    """Bag-of-words documents over a 30-word vocabulary, 10-100 words
    each; 5% are near-duplicates of an earlier document with one token
    appended, so the dedup and clustering operators find real clusters."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    dups = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang = np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(out, seed, sf):
    """The ten query tables at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    _write(out, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array((nk % 5).astype(np.int32))})
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(
            np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist())})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
             zip(rng.integers(0, len(P_ADJ), n_part), rng.integers(0, len(P_NOUN), n_part))]
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.asarray(P_TYPES)[rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})
    ok = np.arange(n_ord, dtype=np.int64)
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    odays = rng.integers(0, span_days + 1, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_us(EPOCH_1995 + odays * 86_400),
        "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist())})
    sdays = rng.integers(0, span_days + 1, n_li) + rng.integers(1, 96, n_li)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist()),
        "l_linestatus": pa.array(np.asarray(["F", "O"])[rng.integers(0, 2, n_li)].tolist()),
        "l_shipdate": _ts_us(EPOCH_1995 + sdays * 86_400)})
    ev_s = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ev_us = EPOCH_2024 * 1_000_000 + (ev_s * 1_000_000).astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)].tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", docs_table(rng, n_docs))
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.23 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


def documents(out, seed, n):
    """Only the documents table, for the CurateDag input root."""
    os.makedirs(out, exist_ok=True)
    _write(out, "documents", docs_table(np.random.default_rng(seed), n))


def _csv(path, header, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = len(cols[0])
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        rows = zip(*[[str(v) for v in c] for c in cols])
        f.write("".join(",".join(r) + "\n" for r in rows))
    return n


def pbetl(root, seed, n_train, n_test):
    """pb-etl domain CSVs under ``root``. Returns the facts FinalResults
    must reproduce: the forecast row count and the exact actual rate."""
    rng = np.random.default_rng(seed)
    # cardinalities vary with the seed
    card = {c: int(rng.integers(lo, hi)) for c, lo, hi in [
        ("TLD", 3, 12), ("REGISTRAR_NAME", 5, 40), ("GL_CODE_NAME", 2, 8),
        ("COUNTRY", 5, 30), ("HISTORY", 3, 20), ("TERM_LENGTH", 2, 10),
        ("QTILE", 2, 5), ("HD", 2, 5)]}
    base_rate = float(rng.uniform(0.15, 0.45))  # class balance
    missing = float(rng.uniform(0.02, 0.08))  # attr keys without tscore

    def attr_cols(ids, n):
        cat = {c: rng.integers(0, k, n) for c, k in card.items()}
        ren = rng.integers(0, 12, n)
        dom = rng.integers(3, 30, n)
        trn = rng.integers(0, 5, n)
        res30 = rng.integers(0, 2, n)
        rst = rng.integers(0, 3, n)
        nsv = np.round(rng.uniform(0, 1, (3, n)), 9)
        logit = (np.log(base_rate / (1 - base_rate)) + 0.8 * (cat["HD"] == 0)
                 - 0.08 * (ren - 6) + 1.2 * (nsv[0] - 0.5))
        target = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-logit))).astype(np.int64)
        cols = [ids, [f"TLD{v}" for v in cat["TLD"]], ren,
                [f"ACC {v:03d}" for v in cat["REGISTRAR_NAME"]],
                [f"GL{v}" for v in cat["GL_CODE_NAME"]],
                [f"CNTR {v:02d}" for v in cat["COUNTRY"]],
                dom, [f"/AR:{v % 3}/TR:{v}" for v in cat["HISTORY"]], trn,
                [f"TL{v:02d}" for v in cat["TERM_LENGTH"]], res30, rst,
                np.where(rng.uniform(0, 1, n) < 0.5, "Y", "N"),
                [f"Q{v + 1}" for v in cat["QTILE"]],
                [chr(ord("A") + v) for v in cat["HD"]], nsv[0], nsv[1], nsv[2]]
        return cols, target

    def tscore(ids):
        keep = ids[rng.uniform(0, 1, len(ids)) >= missing]
        return [keep, rng.uniform(0, 1e-4, len(keep))], len(ids) - len(keep)

    header = ["TRANSACTION_ID", "TLD", "REN", "REGISTRAR_NAME", "GL_CODE_NAME",
              "COUNTRY", "DOMAIN_LENGTH", "HISTORY", "TRANSFERS", "TERM_LENGTH",
              "RES30", "RESTORES", "REREG", "QTILE", "HD", "NS_V0", "NS_V1", "NS_V2"]
    trn_ids = np.arange(100_000, 100_000 + n_train, dtype=np.int64)
    tst_ids = np.arange(500_000, 500_000 + n_test, dtype=np.int64)
    cols, y = attr_cols(trn_ids, n_train)
    _csv(f"{root}/train/attr/attr_0.csv", header + ["TARGET"], cols + [y])
    ts, miss_trn = tscore(trn_ids)
    _csv(f"{root}/train/tscore/tscore_0.csv", ["TRANSACTION_ID", "TRAFFIC_SCORE"], ts)
    cols, y = attr_cols(tst_ids, n_test)
    _csv(f"{root}/test/attr/attr_0.csv", header, cols)
    ts, miss_tst = tscore(tst_ids)
    _csv(f"{root}/test/tscore/tscore_0.csv", ["TRANSACTION_ID", "TRAFFIC_SCORE"], ts)
    _csv(f"{root}/results/results_0.csv", ["TRANSACTION_ID", "TARGET"], [tst_ids, y])
    return {"n": n_test, "actual": float(y.sum()) / n_test,
            "missing_tscore": miss_trn + miss_tst}
