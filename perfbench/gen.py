"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files. The program under test only ever sees the files.
"""
import json
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
COMMENT_WORDS = ["quick", "final", "pending", "regular", "special", "ironic",
                 "express", "careful", "bold", "even", "slyly", "blithely",
                 "deposits", "packages", "requests", "accounts", "theodolites"]


def _rng(seed, stream):
    # independent stream per input so sizes of one never shift another
    return np.random.default_rng([int(seed), stream])


def _file_stats(path):
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def _write_csv(table, path):
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


# ------------------------------------------------------------- etl_csv

def gen_lineitem_csv(seed, rows, path):
    """Lineitem-like CSV: unique (l_orderkey, l_linenumber), 1-7 lines
    per order, dates as ISO days, integer quantities, 2-decimal prices."""
    rng = _rng(seed, 1)
    per_order = rng.integers(1, 8, size=rows)  # upper bound on orders
    csum = np.cumsum(per_order)
    n_orders = int(np.searchsorted(csum, rows)) + 1
    per_order = per_order[:n_orders]
    per_order[-1] -= int(csum[n_orders - 1] - rows)
    order_keys = np.repeat(np.arange(n_orders, dtype=np.int64) * 4 + 1, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    line_no = (np.arange(rows) - starts + 1).astype(np.int32)
    days = rng.integers(0, 2500, size=rows)
    ship = (np.datetime64("1995-01-02") + days).astype("datetime64[D]")
    words = np.array(COMMENT_WORDS)
    w = rng.integers(0, len(words), size=(rows, 4))
    comment = np.char.add(np.char.add(words[w[:, 0]], " "),
                          np.char.add(np.char.add(words[w[:, 1]], " "),
                                      np.char.add(np.char.add(words[w[:, 2]], " "),
                                                  words[w[:, 3]])))
    table = pa.table({
        "l_orderkey": pa.array(order_keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20001, size=rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, size=rows), pa.int64()),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=rows), pa.int32()),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, size=rows) / 100.0,
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=rows) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=rows) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=rows), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=rows), pa.string()),
        "l_shipdate": pa.array(ship, pa.date32()),
        "l_shipmode": pa.array(rng.choice(SHIPMODES, size=rows), pa.string()),
        "l_comment": pa.array(comment, pa.string()),
    })
    _write_csv(table, path)
    return {"rows": rows, "bytes": _file_stats(path)}


# --------------------------------------------------------- rest_enrich

def gen_rest_inputs(seed, rows, path, plan_path, share_404, share_503,
                    median_ms, sigma, cap_ms):
    """Id CSV plus the stub's response plan.

    Service times follow a log-normal (heavy right tail) capped at
    `cap_ms`; `share_404` of ids always answer 404 (row dropped),
    `share_503` answer 503 on their first attempt and 200 on the retry
    (row kept). Both are stratified: every seed gets the same multiset of
    service times and the same status counts, and the seed decides which
    id gets which, so runs on different seeds do the same amount of
    waiting."""
    rng = _rng(seed, 2)
    ids = rng.permutation(np.arange(1, rows * 10, dtype=np.int64))[:rows]
    kinds = rng.choice(["basic", "full", "lite"], size=rows)
    n404, n503 = round(rows * share_404), round(rows * share_503)
    status = rng.permutation([404] * n404 + [503] * n503 + [200] * (rows - n404 - n503))
    quantiles = [NormalDist(np.log(median_ms), sigma).inv_cdf((k + 0.5) / rows)
                 for k in range(rows)]
    svc = rng.permutation(np.minimum(np.exp(quantiles), cap_ms))
    labels = rng.integers(0, 1 << 30, size=rows)
    scores = rng.integers(0, 1000, size=rows)
    _write_csv(pa.table({"id": pa.array(ids, pa.int64()),
                         "kind": pa.array(kinds, pa.string())}), path)
    plan = {str(int(i)): {"status": int(s), "ms": round(float(m), 3),
                          "label": f"L{int(lb):08x}", "score": int(sc)}
            for i, s, m, lb, sc in zip(ids, status, svc, labels, scores)}
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    return {"rows": rows, "bytes": _file_stats(path),
            "planned_404": int((status == 404).sum()),
            "planned_503": int((status == 503).sum()),
            "service_ms_mean": round(float(svc.mean()), 4)}


# -------------------------------------------------------- llm_curation

def _vocab(rng, n):
    syl = ["ba", "ko", "ri", "ten", "mo", "sa", "lu", "ne", "di", "pra",
           "ve", "ti", "gor", "an", "el", "us", "qua", "fi", "zo", "mer"]
    out = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        out.add("".join(syl[int(j)] for j in rng.integers(0, len(syl), size=k)))
    return sorted(out)


def gen_corpus(seed, docs, path, dup_every, mutate_share):
    """Parquet corpus (doc_id, text, lang): Zipfian words over
    a synthetic vocabulary plus stop words, 40-160 words per doc (the
    same multiset of lengths for every seed). Every `dup_every`-th doc is
    a near-duplicate of a random earlier doc with `mutate_share` of its
    words replaced."""
    rng = _rng(seed, 3)
    vocab = np.array(_vocab(rng, 3000) + STOPS)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p = p[rng.permutation(len(vocab))]
    p /= p.sum()
    lens = rng.permutation(np.linspace(40, 160, docs).round().astype(int))
    texts = []
    planted = 0
    for i in range(docs):
        if i > 0 and i % dup_every == 0:
            src = texts[int(rng.integers(0, i))].split(" ")
            k = max(1, int(len(src) * mutate_share))
            for j in rng.integers(0, len(src), size=k):
                src[int(j)] = str(vocab[int(rng.choice(len(vocab), p=p))])
            texts.append(" ".join(src))
            planted += 1
        else:
            texts.append(" ".join(rng.choice(vocab, size=int(lens[i]), p=p)))
    langs = rng.choice(["en", "es", "de"], size=docs, p=[0.6, 0.25, 0.15])
    table = pa.table({"doc_id": pa.array(np.arange(docs), pa.int64()),
                      "text": pa.array(texts, pa.string()),
                      "lang": pa.array(langs, pa.string())})
    pq.write_table(table, path)
    return {"rows": docs, "bytes": _file_stats(path), "planted_dups": planted}


# --------------------------------------------------------- sql_catalog

def gen_star_schema(seed, scale, d):
    """TPC-H-ish star schema plus events/documents/embeddings, the
    shapes the query catalog reads (`graft.Tables`), at `scale` x the
    0.1-scale row counts."""
    rng = _rng(seed, 4)
    os.makedirs(d, exist_ok=True)

    def n(base):
        return max(1, int(base * scale))

    n_li, n_ord, n_cust = n(600000), n(150000), n(15000)
    n_supp, n_part, n_ev, n_doc, n_emb = n(1000), n(20000), n(100000), n(5000), n(2000)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99999, 1000000, size=n_cust) / 100.0),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            size=n_cust))})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(rng.integers(-99999, 1000000, size=n_supp) / 100.0)})
    adjs = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            adjs[rng.integers(0, 8, size=n_part)], " "), nouns[rng.integers(0, 8, size=n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], size=n_part)),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10.0 for i in range(n_part)])})
    odays = rng.integers(0, 2404, size=n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], size=n_ord)),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, size=n_ord) / 100.0),
        "o_orderdate": pa.array((np.datetime64("1995-01-01") + odays).astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord))})
    ldays = rng.integers(0, 2500, size=n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, size=n_li) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li)),
        "l_shipdate": pa.array((np.datetime64("1995-01-02") + ldays).astype("datetime64[us]"),
                               pa.timestamp("us"))})
    month_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, month_us, size=n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), size=n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], size=n_ev)),
        "value": pa.array(rng.integers(0, 50000, size=n_ev) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)])})
    dv = np.array(["a", "agg", "batch", "big", "column", "customer", "data", "dup",
                   "fast", "filter", "group", "hash", "join", "key", "line", "merge",
                   "order", "part", "query", "row", "scan", "slow", "small", "sort",
                   "spark", "stream", "table", "the", "value", "vector", "window"])
    texts = [" ".join(dv[rng.integers(0, len(dv), size=int(k))])
             for k in rng.integers(10, 101, size=n_doc)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], size=n_doc,
                                    p=[0.41, 0.15, 0.15, 0.15, 0.14])),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(0.0, 0.125, size=(n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_emb), pa.int32())})
    rows = 0
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
        rows += t.num_rows
    return {"rows": rows, "bytes": _file_stats(d), "lineitem_rows": n_li}
