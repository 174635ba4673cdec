"""Seeded input generation for the graft benchmark.

Every table has the schema of the repository's TPC-H-ish test fixtures
(see TESTDATA.md): the seven TPC-H tables, `events`, `documents` and
`embeddings`, one parquet file each. The same seed always gives the
same files. The streaming workload's micro-batches are staged here as
well, together with a manifest of which documents are copies of which.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# Row counts of the sf0.1 fixtures; the seven TPC-H tables sum to 786,030.
SIZES = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
         "part": 20000, "orders": 150000, "lineitem": 600000,
         "events": 20000, "documents": 5000, "embeddings": 2000}

DAY_US = 86400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tpch_tables(rng, scale=1.0):
    """The seven TPC-H tables; `scale` shrinks the four large ones."""
    n = {k: max(1, int(v * scale)) if k in ("customer", "part", "orders", "lineitem")
         else v for k, v in SIZES.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                                       noun[rng.integers(0, 8, npart)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1))})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2498, nl)) * DAY_US)})
    return out


def doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]


def corpus_tables(rng):
    """events, documents (with a few exact and near copies) and embeddings."""
    out = {}
    ne = SIZES["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(np.datetime64("2024-01-01", "us").astype(np.int64)
                  + np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, 1500, ne, dtype=np.int64)),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], ne),
        "value": pa.array(_money(rng, 0, 500, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = SIZES["documents"]
    texts = doc_texts(rng, nd)
    for i in range(1, nd):
        r = rng.random()
        if r < 0.002:                      # exact copy of an earlier document
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.05:                     # near copy: one word replaced
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = "dup"
            texts[i] = " ".join(w)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    nv, dim = SIZES["embeddings"], 64
    centers = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + 0.6 * rng.standard_normal((nv, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return out


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def stage_stream(rng, out_dir, rounds, batch_docs):
    """Stages `rounds` rounds of two micro-batch files each: `batch_docs`
    fresh documents, then the same number of copies of them under ids
    shifted by 1,000,000 (about half exact, the rest with one word
    replaced). Returns the manifest the checks read."""
    manifest = []
    for r in range(rounds):
        d = os.path.join(out_dir, f"round-{r:03d}")
        os.makedirs(d, exist_ok=True)
        base = r * batch_docs
        fresh_ids = np.arange(base, base + batch_docs, dtype=np.int64)
        fresh = doc_texts(rng, batch_docs)
        exact = rng.random(batch_docs) < 0.5
        copies = []
        for i, t in enumerate(fresh):
            if exact[i]:
                copies.append(t)
            else:
                w = t.split(" ")
                w[int(rng.integers(0, len(w)))] = "dup"
                copies.append(" ".join(w))
        copy_ids = fresh_ids + 1_000_000
        for k, (ids, texts) in enumerate([(fresh_ids, fresh), (copy_ids, copies)]):
            path = os.path.join(d, f"batch-{k:03d}.parquet")
            pq.write_table(pa.table({
                "doc_id": pa.array(ids),
                "text": pa.array(texts),
                "lang": _pick(rng, LANGS, batch_docs, LANG_P),
                "source": pa.array([f"src{i % 20}" for i in range(batch_docs)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}),
                path)
            # the file source takes the oldest file first
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        manifest.append({
            "dir": d,
            "fresh": fresh_ids.tolist(),
            "exact": [[int(c), int(f)] for c, f, e in zip(copy_ids, fresh_ids, exact) if e],
            "near": [[int(c), int(f)] for c, f, e in zip(copy_ids, fresh_ids, exact) if not e]})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
