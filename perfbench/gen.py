"""Seeded input generator for the benchmark.

Writes the ten tables graft reads (one parquet file per table, the layout
`graft.core.Tables` expects) plus the ingest batch files, all derived from
one seed. Shapes follow the TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` tables: the same columns and types, value
ranges and word vocabulary, with ~5 % near-duplicate documents.

Usage: python3 gen.py <out_dir> <seed> <sf> [ingest_batches]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part a "
         "merge window order column join vector").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _days(rng, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - base).astype(int))
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _doc_texts(rng, n, dup_share=0.05):
    """Random vocabulary texts of 10..99 words; a share of them are near
    copies of an earlier text with one word swapped and `dup` appended."""
    texts = []
    for i in range(n):
        if texts and rng.random() < dup_share:
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def _docs(rng, ids, texts):
    ids = np.asarray(ids, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, len(ids), p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, centers, ids):
    labels = rng.integers(0, len(centers), len(ids)).astype(np.int32)
    v = centers[labels] + 0.12 * rng.standard_normal((len(ids), DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def generate(out, seed, sf, ingest_batches=0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    n_cust = max(150, int(150_000 * sf))
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust))})
    n_supp = max(10, int(10_000 * sf))
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    n_part = max(200, int(200_000 * sf))
    colors = np.array(["red", "blue", "green", "small", "large", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(colors, n_part), " "), rng.choice(nouns, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(np.array(
            ["ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO", "MEDIUM"]), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})

    n_ord = max(1500, int(1_500_000 * sf))
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord))})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + (rng.integers(1, 122, n_li) * DAY_US).astype("timedelta64[us]")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)[perm]),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)[perm]),
        "l_linenumber": pa.array(lnum.astype(np.int32)[perm]),
        "l_quantity": pa.array(qty[perm]),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)[perm]),
        "l_discount": pa.array((rng.integers(0, 11, n_li) / 100.0)[perm]),
        "l_tax": pa.array((rng.integers(0, 9, n_li) / 100.0)[perm]),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)[perm]),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)[perm]),
        "l_shipdate": _ts(ship[perm])})

    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(np.array(
            ["click", "signup", "error", "view", "purchase"]), n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    n_docs = max(500, int(50_000 * sf))
    texts = _doc_texts(rng, n_docs)
    _write(out, "documents", _docs(rng, np.arange(n_docs), texts))
    n_emb = max(500, int(20_000 * sf))
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    _write(out, "embeddings", _embeddings(rng, centers, np.arange(n_emb)))

    # ingest batches: new vectors, documents of which half replay texts
    # already accepted (earlier batches or the base corpus), and rides
    # upserts keyed on (bus_ride_id, bus_stop_index)
    if ingest_batches:
        ing = os.path.join(out, "ingest")
        os.makedirs(ing, exist_ok=True)
        per = 40
        rides, stops = np.meshgrid(np.arange(200, dtype=np.int64),
                                   np.arange(1, 36, dtype=np.int32), indexing="ij")
        pq.write_table(pa.table({
            "ride_id": pa.array(rides.ravel()),
            "stop_index": pa.array(stops.ravel()),
            "passengers": pa.array(rng.integers(0, 70, rides.size).astype(np.int64)),
            "batch": pa.array(np.full(rides.size, -1, dtype=np.int32))}),
            os.path.join(ing, "rides_base.parquet"))
        accepted = list(texts)
        for b in range(ingest_batches):
            vid = n_emb + 1_000_000 + b * per + np.arange(per)
            pq.write_table(pa.table(_embeddings(rng, centers, vid)),
                           os.path.join(ing, f"vec_{b:04d}.parquet"))
            fresh = _doc_texts(rng, per // 2, dup_share=0.0)
            replay = [accepted[int(i)] for i in rng.integers(0, len(accepted), per - per // 2)]
            did = n_docs + 1_000_000 + b * per + np.arange(per)
            order = rng.permutation(per)
            batch = [(fresh + replay)[i] for i in order]
            pq.write_table(pa.table(_docs(rng, did, batch)),
                           os.path.join(ing, f"docs_{b:04d}.parquet"))
            accepted.extend(fresh)
            pq.write_table(pa.table({
                "ride_id": pa.array(rng.choice(400, per, replace=False).astype(np.int64)),
                "stop_index": pa.array(np.arange(per, dtype=np.int32) % 35 + 1),
                "passengers": pa.array(rng.integers(0, 70, per).astype(np.int64)),
                "batch": pa.array(np.full(per, b, dtype=np.int32))}),
                os.path.join(ing, f"rides_{b:04d}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 0)
