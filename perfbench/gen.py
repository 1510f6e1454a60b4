"""Seeded input generator for the perfbench workloads.

Every table has the schema, physical types and value domains of graft's
test tables (a TPC-H-like star schema plus `events`, `documents` and
`embeddings`), so every query key runs unchanged on the output. The
seed decides every value: the same (workload, seed) pair always yields
byte-identical inputs.

    python3 perfbench/gen.py --workload warehouse --seed 7 --out DIR

writes `DIR/<table>.parquet` (and, for `warehouse`, `DIR/increment/`)
plus `DIR/inputs.json`, the sizes and shares actually generated.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload input shape. `sf` scales the TPC-H-like tables the way the
# test data does (lineitem = 6M * sf rows); `docs`/`vecs` size the text
# and vector corpora; the dup shares fix how much work the dedup and
# search operators share between inputs.
WORKLOADS = {
    "warehouse": {
        "sf": 0.02, "docs": 0, "vecs": 0, "events": 20_000,
        # the re-run's increment: share of existing orders whose rows are
        # updated, and share of brand-new order keys appended
        "update_share": 0.10, "new_share": 0.02,
    },
    "llm_curation": {
        "sf": 0, "docs": 1000, "vecs": 500, "events": 0,
        # documents: exact copies and near copies (seeded word edits)
        "doc_exact_share": 0.02, "doc_near_share": 0.05,
        # embeddings: exact copies and near copies (seeded gaussian noise)
        "vec_exact_share": 0.02, "vec_near_share": 0.05,
    },
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DIM = 64
US = 1_000_000
EPOCH_DAY_US = 86_400 * US


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_col(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def tpch(rng, out, sf):
    """The star schema at scale factor `sf`; returns the row counts."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(rng, names, n_part),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0)})
    orders = orders_cols(rng, np.arange(n_ord, dtype=np.int64), n_cust)
    write(out, "orders", orders)
    line = lineitem_cols(rng, rng.integers(0, n_ord, n_line), n_part, n_supp)
    write(out, "lineitem", line)
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "nation": 25, "region": 5}


def orders_cols(rng, keys, n_cust):
    n = len(keys)
    lo, hi = day_us(1995, 1, 1), day_us(2001, 8, 1)
    days = rng.integers(0, (hi - lo) // EPOCH_DAY_US + 1, n)
    return {
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pick(rng, ORDER_STATUS, n),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": ts_col(lo + days * EPOCH_DAY_US),
        "o_orderpriority": pick(rng, PRIORITIES, n)}


def lineitem_cols(rng, orderkeys, n_part, n_supp):
    n = len(orderkeys)
    lo, hi = day_us(1995, 1, 2), day_us(2001, 11, 4)
    days = rng.integers(0, (hi - lo) // EPOCH_DAY_US + 1, n)
    return {
        "l_orderkey": pa.array(np.asarray(orderkeys, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": ts_col(lo + days * EPOCH_DAY_US)}


def events(rng, out, n):
    lo = day_us(2024, 1, 1)
    ts = np.sort(lo + rng.integers(0, 30 * EPOCH_DAY_US, n))
    write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def dup_plan(rng, n, exact_share, near_share):
    """Seeded choice of which rows copy an earlier row: returns
    (kind, source) arrays, kind 0 = distinct, 1 = exact, 2 = near."""
    kind = np.zeros(n, dtype=np.int8)
    src = np.arange(n)
    n_exact, n_near = int(round(n * exact_share)), int(round(n * near_share))
    copies = rng.choice(np.arange(1, n), n_exact + n_near, replace=False)
    kind[copies[:n_exact]] = 1
    kind[copies[n_exact:]] = 2
    for i in copies:
        src[i] = rng.integers(0, i)
        while kind[src[i]] != 0:  # copy an original, never a copy
            src[i] = rng.integers(0, i)
    return kind, src


def documents(rng, out, n, exact_share, near_share):
    kind, src = dup_plan(rng, n, exact_share, near_share)
    texts = []
    for i in range(n):
        if kind[i] == 0:
            words = list(np.asarray(VOCAB, dtype=object)[
                rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        else:
            words = texts[src[i]].split()
            if kind[i] == 2:  # near copy: one to three seeded word edits
                for _ in range(rng.integers(1, 4)):
                    words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
                words.append("dup")
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    return {"documents": n, "doc_exact_copies": int((kind == 1).sum()),
            "doc_near_copies": int((kind == 2).sum())}


def embeddings(rng, out, n, exact_share, near_share):
    kind, src = dup_plan(rng, n, exact_share, near_share)
    x = rng.standard_normal((n, DIM))
    for i in np.nonzero(kind)[0]:
        x[i] = x[src[i]] + (0.02 * rng.standard_normal(DIM) if kind[i] == 2 else 0.0)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))})
    return {"embeddings": n, "vec_exact_copies": int((kind == 1).sum()),
            "vec_near_copies": int((kind == 2).sum())}


def increment(rng, out, shape, rows):
    """The warehouse re-run's new source batch: every line of a seeded
    `update_share` of existing orders re-priced, plus `new_share` new
    order keys (with fresh lines). Written as `increment/orders.parquet`
    and `increment/lineitem.parquet`."""
    inc = os.path.join(out, "increment")
    os.makedirs(inc, exist_ok=True)
    n_ord = rows["orders"]
    n_upd, n_new = int(n_ord * shape["update_share"]), int(n_ord * shape["new_share"])
    upd = np.sort(rng.choice(n_ord, n_upd, replace=False))
    keys = np.concatenate([upd, np.arange(n_ord, n_ord + n_new)]).astype(np.int64)
    write(inc, "orders", orders_cols(rng, keys, rows["customer"]))
    lines_per = rng.integers(1, 8, len(keys))
    write(inc, "lineitem", lineitem_cols(rng, np.repeat(keys, lines_per),
                                         rows["part"], rows["supplier"]))
    return {"increment_orders_updated": n_upd, "increment_orders_new": n_new,
            "increment_lineitem": int(lines_per.sum())}


def generate(workload, seed, out):
    shape = WORKLOADS[workload]
    # one independent stream per workload: a seed means the same thing
    # whichever workload is generated first
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    os.makedirs(out, exist_ok=True)
    rows = {}
    if shape["sf"]:
        rows.update(tpch(rng, out, shape["sf"]))
    if shape["events"]:
        events(rng, out, shape["events"])
        rows["events"] = shape["events"]
    if shape["docs"]:
        rows.update(documents(rng, out, shape["docs"],
                              shape["doc_exact_share"], shape["doc_near_share"]))
    if shape["vecs"]:
        rows.update(embeddings(rng, out, shape["vecs"],
                               shape["vec_exact_share"], shape["vec_near_share"]))
    if "update_share" in shape:
        rows.update(increment(rng, out, shape, rows))
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet"))
    info = {"workload": workload, "seed": seed, "shape": shape,
            "rows": rows, "parquet_bytes": size}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
