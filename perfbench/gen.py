"""Seeded input generator: a key-shifted tiling of the base tables in
perfbench/base (the TPC-H-style star schema plus documents, embeddings and
events, at scale factor 0.001).

Tile i is a copy of the base with every entity key moved by a seeded offset
plus i strides, so the same seed always gives the same inputs and each tile is
an independent population over the same dates and values. As in the
repository's scale generator, tiles after the first also get distinct text
(a per-tile token prefix, so documents of different tiles are not near
duplicates) and distinct vectors (a per-tile rotation, which keeps norms).
With `dup_pct` > 0 that share of the documents is replaced by sliding windows
of a few template texts: exact copies across tiles and chains of overlapping
windows, the duplicate structure dedup cost depends on. With
`customer_every` > 1 only every n-th customer is kept, with its orders, line
items and events.
"""
import hashlib
import os
import random
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# key kind -> (offset unit, stride per tile); every base key is below the unit.
# Document and vector ids stay far below 1e9, where twin queries inject rows.
KEYS = {"cust": (1_000, 1_000_000), "supp": (1_000, 1_000_000),
        "part": (1_000, 1_000_000), "order": (10_000, 10_000_000),
        "event": (10_000, 10_000_000), "doc": (1_000, 1_000_000),
        "vec": (1_000, 1_000_000)}
COLUMNS = {"customer": {"c_custkey": "cust"}, "supplier": {"s_suppkey": "supp"},
           "part": {"p_partkey": "part"},
           "orders": {"o_orderkey": "order", "o_custkey": "cust"},
           "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
           "events": {"event_id": "event", "user_id": "cust"},
           "documents": {"doc_id": "doc"}, "embeddings": {"vec_id": "vec"}}

WIN_LEN, WIN_STRIDE = 100, 55   # template windows: adjacent ones share 45 words


def _h(*parts):
    return int.from_bytes(hashlib.blake2b(":".join(map(str, parts)).encode(),
                                          digest_size=8).digest(), "big")


def tile_tag(i):
    ds = [(i >> 8) & 15, (i >> 4) & 15, i & 15]
    return "".join("%x" % d for d in ds + [sum(ds) & 15])


def _windows(docs, n_tpl, max_depth):
    pool = sorted(zip(docs["doc_id"], docs["text"], docs["lang"]))
    out = {}
    for t in range(n_tpl):
        group = [pool[(t * 16 + g) % len(pool)] for g in range(16)]
        words = " ".join(d[1] for d in group).split()
        for j in range(max_depth + 1):
            start = min(j * WIN_STRIDE, max(0, len(words) - WIN_LEN))
            out[(t, j)] = (" ".join(words[start:start + WIN_LEN]), group[0][2])
    return out


def _documents(base, tile, off, seed, dup_pct, windows, n_tpl, max_depth):
    d = base.to_pydict()
    tag = tile_tag(tile)
    rows = {k: [] for k in d}
    for doc_id, text, lang, source in zip(d["doc_id"], d["text"], d["lang"], d["source"]):
        if dup_pct and _h(seed, "dup", doc_id, tile) % 100 < dup_pct:
            tpl = _h(seed, "tpl", doc_id, tile) % n_tpl
            depth = _h(seed, "dep", doc_id, tile) % (max_depth + 1)
            text, lang = windows[(tpl, depth)]
            source = "dupsrc%d" % tpl
        elif tile:
            text = re.sub(r"\S+", lambda m: tag + m.group(0), text)
            source = "%s_t%d" % (source, tile)
        rows["doc_id"].append(doc_id + off)
        rows["text"].append(text)
        rows["lang"].append(lang)
        rows["source"].append(source)
        rows["n_chars"].append(len(text))
    return pa.Table.from_pydict(rows, schema=base.schema)


def _embeddings(base, tile, off):
    vecs = base.column("embedding").to_pylist()
    rot = [v[tile % len(v):] + v[:tile % len(v)] if v else v for v in vecs]
    return base.set_column(base.schema.get_field_index("embedding"), "embedding",
                           pa.array(rot, type=base.schema.field("embedding").type)) \
        .set_column(0, "vec_id", pc.add(base.column("vec_id"), off))


def _every_nth_customer(base, t, n, kept_orders):
    """Every n-th customer with its orders, their line items and its events:
    fewer tickers, each with an unchanged history."""
    key = {"customer": "c_custkey", "orders": "o_custkey", "events": "user_id"}.get(t)
    if key:
        return base.filter(pa.array(base.column(key).to_numpy() % n == 0))
    if t == "lineitem":
        return base.filter(pc.is_in(base.column("l_orderkey"), value_set=kept_orders))
    return base


def generate(out_dir, seed, tiles=1, dup_pct=0, customer_every=1):
    """Write the inputs for `seed` to out_dir; returns {table: rows}."""
    rng = random.Random(seed)
    base_off = {k: rng.randrange(1, 1000) * unit for k, (unit, _) in sorted(KEYS.items())}
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    kept_orders = None
    for t in TABLES:
        base = pq.read_table(os.path.join(BASE, t + ".parquet"))
        if customer_every > 1:
            base = _every_nth_customer(base, t, customer_every, kept_orders)
            if t == "orders":
                kept_orders = base.column("o_orderkey")
        if t in ("region", "nation"):
            parts = [base]
        else:
            windows = _windows(base.to_pydict(), 10, 4) if t == "documents" and dup_pct else None
            parts = []
            for i in range(tiles):
                off = {k: base_off[k] + i * KEYS[k][1] for k in KEYS}
                # the vector and text queries address their query rows and
                # anchors by id (vec_id < 30, doc_id < n): the first tile
                # keeps its ids, the others move by the seeded offset
                if i == 0:
                    off["doc"] = off["vec"] = 0
                if t == "documents":
                    part = _documents(base, i, off["doc"], seed, dup_pct, windows, 10, 4)
                elif t == "embeddings":
                    part = _embeddings(base, i, off["vec"])
                else:
                    part = base
                    for c, kind in COLUMNS[t].items():
                        part = part.set_column(part.schema.get_field_index(c), c,
                                               pc.add(part.column(c), off[kind]))
                parts.append(part)
        table = pa.concat_tables(parts)
        pq.write_table(table, os.path.join(out_dir, t + ".parquet"))
        sizes[t] = table.num_rows
    return sizes
