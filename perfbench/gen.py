"""Seeded input generators for the benchmark workloads.

Every table is a single Parquet file `<dir>/<name>.parquet`, the layout
`Catalog.loadDir` and `SparkEntry.queries` read. The same seed always gives
the same files. Column names and types follow the shipped fixtures
(FIXTURES.md), so the star catalog is also a valid analytics catalog.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "big filter group stream vector").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "old", "new", "cold", "big", "green", "shiny"]
NOUN = ["ring", "plate", "gizmo", "anvil", "rod", "gear", "widget", "bolt"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def _fresh(d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


def _texts(rng, n, lo, hi):
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[w] for w in words[i:i + ln]))
        i += ln
    return out


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(d, seed, scale, n_events=None, n_docs=None, n_vecs=None):
    """The fixture's star schema plus its three FK-disconnected tables.

    `scale` 1.0 is the shipped sf0.1 shape (600k lineitem rows); row counts
    scale linearly except `nation`/`region`. The disconnected tables' sizes
    can be set apart.
    """
    _fresh(d)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord = int(150000 * scale)
    _write(d, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(d, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(d, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, n_supp, -999, 9999)})
    _write(d, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    odate = EPOCH_1995_MS + rng.integers(0, 2404, n_ord) * DAY_MS
    _write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 900, 500000),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(d, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, n_li) * DAY_MS, pa.timestamp("ms"))})
    extension(d, rng, n_events=n_events or int(100000 * scale),
              n_docs=n_docs or int(5000 * scale), n_vecs=n_vecs or int(2000 * scale))


def analytics(d, seed):
    """The analytics catalog: the star at the sf0.01 shape, with more
    documents and vectors so the text and vector kernels carry the pass."""
    star(d, seed, 0.1, n_events=10000, n_docs=1000, n_vecs=500)


def extension(d, rng, n_events, n_docs, n_vecs):
    """`events`, `documents` and `embeddings` in the fixture's shapes."""
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_MS * 1000, n_events))
    _write(d, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_events // 66), n_events, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, n_events, 0, 560),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]})
    texts = _texts(rng, n_docs, 20, 80)
    # a few exact and prefix copies so the dedup operators find work
    for i in range(0, n_docs, 97):
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[j] if i % 2 else texts[j] + " " + texts[i]
    _write(d, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32))})


STAR_FKS = [
    ("nation", ["n_regionkey"], "region", ["r_regionkey"]),
    ("customer", ["c_nationkey"], "nation", ["n_nationkey"]),
    ("supplier", ["s_nationkey"], "nation", ["n_nationkey"]),
    ("orders", ["o_custkey"], "customer", ["c_custkey"]),
    ("lineitem", ["l_orderkey"], "orders", ["o_orderkey"]),
    ("lineitem", ["l_partkey"], "part", ["p_partkey"]),
    ("lineitem", ["l_suppkey"], "supplier", ["s_suppkey"]),
]
STAR_KEYS = {"region": ["r_regionkey"], "nation": ["n_nationkey"],
             "customer": ["c_custkey"], "supplier": ["s_suppkey"],
             "part": ["p_partkey"], "orders": ["o_orderkey"],
             "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
             "documents": ["doc_id"], "embeddings": ["vec_id"]}


def _fk_records(fks):
    return [{"fk_table": a, "fk_columns": b, "target_table": c, "target_columns": e}
            for a, b, c, e in fks]


def star_config(seed):
    """FIXTURES.md's representative config; the key-mod residue varies by seed."""
    return {
        "initial_targets": [{"table": "orders", "where": f"o_orderkey % 10 = {seed % 10}"}],
        "passthrough_tables": ["region"],
        "excluded_tables": [],
        "dependency_breaks": [],
        "fk_augmentation": _fk_records(STAR_FKS),
        "upstream_filters": [{"column": "l_quantity", "condition": "l_quantity > 5"}],
        "max_rows_per_table": None,
        "keep_disconnected_tables": True,
    }


def wide(d, seed, layers=6, per_layer=18, n_disconnected=4):
    """A layered FK DAG of many small tables.

    Table `w<L>_<i>` sits in layer L and references one or two tables of the
    layer below (and sometimes one two layers down). Every fifth table of
    layer 1 has a composite key `(id, part)` that its children reference
    with two columns. `w0_0.back_ref` points up at `w2_0`, closing a cycle
    that the config breaks; `w0_1` is passed through, and `d_<i>` tables
    have no FK at all. Rows per table stay in the hundreds.
    Returns (fks, keys).
    """
    _fresh(d)
    rng = np.random.default_rng(seed)
    fks, keys, rows = [], {}, {}

    def composite(layer, i):
        return layer == 1 and i % 5 == 0

    for layer in range(layers):
        for i in range(per_layer):
            name = f"w{layer}_{i}"
            n = int(rng.integers(150, 600))
            rows[name] = n
            cols = {}
            if composite(layer, i):
                cols["id"] = np.arange(n, dtype=np.int64) // 2
                cols["part"] = pa.array((np.arange(n) % 2).astype(np.int32))
                keys[name] = ["id", "part"]
            else:
                cols["id"] = np.arange(n, dtype=np.int64)
                keys[name] = ["id"]
            if layer > 0:
                parents = {int(p) for p in rng.integers(0, per_layer, 1 + i % 2)}
                if i == 0:
                    parents.add(0)  # w2_0 -> w1_0 -> w0_0 closes the cycle
                parents = sorted(parents)
                if layer > 1 and i % 3 == 0:
                    parents = parents + [("far", int(rng.integers(0, per_layer)))]
                for p in parents:
                    pl, pi = (layer - 2, p[1]) if isinstance(p, tuple) else (layer - 1, p)
                    parent = f"w{pl}_{pi}"
                    base = f"ref_{parent}"
                    pn = rows[parent]
                    if composite(pl, pi):
                        cols[base + "_id"] = rng.integers(0, pn // 2, n, dtype=np.int64)
                        cols[base + "_part"] = pa.array(rng.integers(0, 2, n, dtype=np.int32))
                        fks.append((name, [base + "_id", base + "_part"], parent, ["id", "part"]))
                    else:
                        # about one reference in twenty is NULL (optional FK)
                        cols[base] = pa.array(rng.integers(0, pn, n, dtype=np.int64),
                                              mask=rng.random(n) < 0.05)
                        fks.append((name, [base], parent, ["id"]))
            if layer >= layers - 2 and i % 4 == 0:
                cols["w_qty"] = pa.array(rng.integers(0, 10, n, dtype=np.int32))
            cols["label"] = [f"{name}-{k}" for k in range(n)]
            cols["amount"] = _money(rng, n, 0, 1000)
            if name == "w0_0":
                continue
            _write(d, name, cols)
    # w0_0 last: its back-reference needs w2_0's size
    n = rows["w0_0"]
    _write(d, "w0_0", {
        "id": np.arange(n, dtype=np.int64),
        "back_ref": rng.integers(0, rows["w2_0"], n, dtype=np.int64),
        "label": [f"w0_0-{k}" for k in range(n)],
        "amount": _money(rng, n, 0, 1000)})
    fks.append(("w0_0", ["back_ref"], "w2_0", ["id"]))
    for i in range(n_disconnected):
        n = int(rng.integers(150, 600))
        _write(d, f"d_{i}", {"id": np.arange(n, dtype=np.int64),
                              "note": [f"d{i}-{k}" for k in range(n)]})
        keys[f"d_{i}"] = ["id"]
    return fks, keys


def wide_config(seed, fks, layers=6, per_layer=18):
    """Targets: every table of the middle layer, by a key-mod predicate."""
    mid = layers // 2
    return {
        "initial_targets": [{"table": f"w{mid}_{i}", "where": f"id % 4 = {(seed + i) % 4}"}
                            for i in range(per_layer)],
        "passthrough_tables": ["w0_1"],
        "excluded_tables": [],
        "dependency_breaks": [{"fk_table": "w0_0", "target_table": "w2_0"}],
        "fk_augmentation": _fk_records(fks),
        "upstream_filters": [{"column": "w_qty", "condition": "w_qty > 2"}],
        "max_rows_per_table": None,
        "keep_disconnected_tables": True,
    }
