"""Synthetic input tables for the benchmark, in the engine's fixture schema.

The engine's queries read ten parquet tables (`<dir>/<table>.parquet`, see
FIXTURES.md). The benchmark cannot rely on fixtures outside its checkout, so
it generates tables of the same schema and value domains here: a TPC-H-like
star (region .. lineitem), an event stream, a document corpus with planted
exact and near duplicates, and 64-d unit embeddings clustered by label.

The tables depend only on the scale factor and DATA_SEED, never on the
workload seed: the expected output fingerprints are recorded once against
them. Run as `python3 perfbench/gen_data.py <out_dir> <sf>`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bumped whenever the generator's output changes, so cached tables are rebuilt.
VERSION = 1

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts_us(rng, n, lo, hi):
    """n uniform timestamps in [lo, hi), as epoch microseconds."""
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    return rng.integers(a, b, n)


def _days_us(rng, n, lo, hi):
    """n uniform midnight timestamps (µs) between two dates."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ts(arr):
    return pa.array(arr, pa.timestamp("us"))


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_supp = max(10, int(10_000 * sf))
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * sf)
    n_user = max(15, n_evt // 66)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{COLORS[i // 8]} {NOUNS[i % 8]}" for i in
                            rng.integers(0, 64, n_part)], pa.string()),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(_days_us(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days_us(rng, n_line, "1995-01-02", "2001-11-04"))})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(np.sort(_ts_us(rng, n_evt, "2024-01-01", "2024-01-31"))),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.004:      # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.05:     # near duplicate: one word swapped, marked
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB),
                                                                 rng.integers(10, 100))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.6 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(out_dir, sf):
    """Writes every table under out_dir unless a matching stamp is present."""
    stamp = os.path.join(out_dir, "_generated")
    tag = f"{VERSION} {DATA_SEED} {sf}"
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == tag:
                return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(tag)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
