"""Seeded input generators for the benchmark's workloads.

Every generator takes the seed and writes its inputs under one directory;
the same seed gives byte-identical files. Each returns a manifest entry
that records the input size and the properties it controls.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, start, end, n):
    span = (end - start).days
    return [start + dt.timedelta(days=int(d)) for d in rng.integers(0, span + 1, n)]


def _documents(rng, n, dup_share, cluster=4):
    """Word-bag documents of 10-99 words. `dup_share` of them are near
    duplicates: clusters of `cluster` documents, one original and
    `cluster - 1` copies with 1-3 words replaced, spread over the id range.
    Fixed cluster sizes keep the number of near-duplicate pairs, which pair
    expansion's cost depends on, the same for every seed."""
    n_copies = int(n * dup_share) // (cluster - 1) * (cluster - 1)
    n_orig = n - n_copies
    texts = [" ".join(str(w) for w in rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(n_orig)]
    for b in range(n_copies // (cluster - 1)):
        for _ in range(cluster - 1):
            toks = texts[b].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS + ["dup"]))
            texts.append(" ".join(toks))
    texts = [texts[int(i)] for i in rng.permutation(n)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([str(x) for x in rng.choice(LANGS, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, n_copies


def tables(seed, out, n_docs=500):
    """The star schema plus `events` and `documents` at about sf0.001
    (the sizes and value domains of the repo's sf0.001 test tables)."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 1)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, npart, no = 150, 10, 200, 1500
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": [str(x) for x in r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, ns), 2))})
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{r.choice(colors)} {r.choice(nouns)}" for _ in range(npart)],
        "p_brand": [f"Brand#{int(x)}" for x in r.integers(1, 26, npart)],
        "p_type": [str(x) for x in r.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(npart) * 0.1, 1))})
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [str(x) for x in r.choice(["F", "O", "P"], no)],
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days(r, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), no),
                                pa.timestamp("us")),
        "o_orderpriority": [str(x) for x in r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)]})
    lines = r.integers(1, 8, no)
    nl = int(lines.sum())
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, nl).astype(float)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(np.round(r.integers(0, 11, nl) * 0.01, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, nl) * 0.01, 2)),
        "l_returnflag": [str(x) for x in r.choice(["A", "N", "R"], nl)],
        "l_linestatus": [str(x) for x in r.choice(["F", "O"], nl)],
        "l_shipdate": pa.array(_days(r, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), nl),
                               pa.timestamp("us"))})
    ne = 1000
    t0 = dt.datetime(2024, 1, 1)
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, ne))
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(o)) for o in offs], pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 15, ne), pa.int64()),
        "event_type": [str(x) for x in r.choice(["click", "error", "purchase", "signup", "view"], ne)],
        "value": pa.array(np.round(r.uniform(0.01, 330, ne), 2)),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)]})
    docs, n_dup = _documents(_rng(seed, 2), n_docs, 0.06)
    out_tables = {"region": region, "nation": nation, "customer": customer,
                  "supplier": supplier, "part": part, "orders": orders,
                  "lineitem": lineitem, "events": events, "documents": docs}
    for name, t in out_tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    return {"rows": {k: t.num_rows for k, t in out_tables.items()},
            "near_duplicate_docs": n_dup}


def corpus(seed, out, n_docs, dup_share):
    """The `documents` table alone: `n_docs` word-bag documents of which
    `dup_share` are near duplicates of an earlier one."""
    os.makedirs(out, exist_ok=True)
    docs, n_dup = _documents(_rng(seed, 3), n_docs, dup_share)
    _write(docs, os.path.join(out, "documents.parquet"))
    return {"rows": {"documents": n_docs}, "dup_share": dup_share,
            "near_duplicate_docs": n_dup, "cluster_size": 4,
            "words": int(sum(len(t.split()) for t in docs.column("text").to_pylist()))}


POOL = 3


def statements(seed, out, rate, warm_s, steady_s, fail_share=0.05):
    """capture_live's load: a seeded mix of short statements over the
    sf0.001 tables, one SQL execution each, sent at a fixed `rate` per
    second; plus the list the saturation phase cycles through. Each kind's
    statements are drawn from `POOL` seeded variants."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 5)
    kinds = ["filter", "agg", "join", "insert", "fail"]
    kp = [0.0, 0.25, 0.2, 0.15, fail_share]
    kp[0] = 1.0 - sum(kp[1:])

    def make(kind):
        if kind == "filter":
            return (f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > "
                    f"{int(r.integers(1000, 490000))} AND o_orderpriority = "
                    f"'{r.choice(['1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW'])}'")
        if kind == "agg":
            m = int(r.integers(2, 6))
            return (f"SELECT event_type, count(*) AS n, round(sum(value), 2) AS v FROM events "
                    f"WHERE user_id % {m} = {int(r.integers(0, m))} GROUP BY event_type")
        if kind == "join":
            return (f"SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = "
                    f"n_nationkey WHERE c_acctbal > {int(r.integers(-900, 9000))} GROUP BY n_name")
        if kind == "insert":
            return (f"INSERT INTO gb_ins PARTITION (d = 'd{int(r.integers(0, 8))}') "
                    f"SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_linenumber = "
                    f"{int(r.integers(1, 8))} AND l_partkey < {int(r.integers(5, 60))}")
        return "SELECT raise_error(concat('graftbench-', r_name)) FROM region"

    def schedule(name, n, step_ms):
        # exact shares, seeded order: the mix is the same for every seed
        counts = [int(round(n * p)) for p in kp[1:]]
        mix = ["filter"] * (n - sum(counts))
        for k, c in zip(kinds[1:], counts):
            mix += [k] * c
        rows = []
        for i, j in enumerate(r.permutation(n)):
            k = mix[int(j)]
            sql = pool[k][int(r.integers(0, len(pool[k])))]
            rows.append(f"{i}\t{int(round(i * step_ms))}\t{k}\t{int(k == 'fail')}\t{sql}")
        with open(os.path.join(out, name), "w", encoding="utf-8") as f:
            f.write("\n".join(rows) + "\n")
        return rows

    # a few seeded variants per kind, as a dashboard repeats its templates:
    # Spark inlines literals into generated code, so a fresh literal per
    # statement would compile new classes for every statement and leave the
    # JIT busy, and the latency noisy, for the whole run
    pool = {k: [make(k) for _ in range(POOL)] for k in kinds}
    step = 1000.0 / rate
    warm = schedule("warm.tsv", int(warm_s * rate), step)
    steady = schedule("steady.tsv", int(steady_s * rate), step)
    sat = schedule("sat.tsv", 400, 0)
    return {"rate_per_s": rate, "warm": len(warm), "steady": len(steady),
            "sat_cycle": len(sat),
            "fail_expected": sum(1 for x in steady if x.split("\t")[3] == "1"),
            "mix": dict(zip(kinds, kp)), "variants_per_kind": POOL}
