"""Seeded input generator for the benchmark.

Its only input is a testdata scale-factor directory (sf0.1 by default).

1. Subset. It keeps one tenth (SHARE) of every entity: the first tenth
   of the customer, CDR-user, document and embedding id ranges, the
   orders of the kept customers and the line items of the kept orders.
   The small dimension tables stay whole. This gives the proportions of
   the source's own sf0.01 tables.
2. Relabel. Every id column maps through ONE seeded permutation `sigma`
   of the integers. A key that appears in two tables (c_custkey and
   o_custkey, user_id and the `props.k` peer) therefore still matches.
   Ids the engine lays on one node space still coincide: the purchase
   graph uses both o_custkey and l_suppkey as node ids. `sigma` only
   shuffles ids inside the segments between the tables' id-range ends,
   so every id range and key density is kept.

What a seed changes is which rows fall into the hash-based train/test
split and into the `doc_id % 7` style slices. Row order and every
non-id value of the kept rows are copied unchanged.

Run: python3 bench/gen.py <seed> <out_dir> [<source_dir>]
"""
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DEFAULT_SOURCE = "/root/testdata/sf0.1"
SHARE = 0.1

# table -> its id columns; every one of them maps through the same sigma
ID_COLUMNS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = list(ID_COLUMNS)

# events.props carries the peer/area id as {"k": <user id>}
PROPS_RE = re.compile(r'^\{"k": (\d+)\}$')


def _props_ids(col: pa.ChunkedArray) -> np.ndarray:
    out = np.empty(len(col), dtype=np.int64)
    for i, s in enumerate(col.to_pylist()):
        m = PROPS_RE.match(s)
        if m is None:
            raise ValueError(f"events.props row {i} is not {{\"k\": <id>}}: {s!r}")
        out[i] = int(m.group(1))
    return out


def load(source: str) -> dict:
    return {t: pq.read_table(os.path.join(source, f"{t}.parquet")) for t in TABLES}


def subset(tables: dict, share: float) -> dict:
    """Keep the first `share` of each entity's id range, and the rows
    that belong to kept entities."""
    def cut(t, c):
        return int(np.ceil(share * (int(np.max(tables[t][c].to_numpy())) + 1)))

    def keep(tab, c, bound):
        return tab.filter(pc.less(tab[c], bound))

    out = dict(tables)
    cust = cut("customer", "c_custkey")
    out["customer"] = keep(tables["customer"], "c_custkey", cust)
    out["orders"] = keep(tables["orders"], "o_custkey", cust)
    out["lineitem"] = tables["lineitem"].filter(
        pc.is_in(tables["lineitem"]["l_orderkey"],
                 value_set=out["orders"]["o_orderkey"].combine_chunks()))
    for t, c in (("events", "user_id"), ("documents", "doc_id"),
                 ("embeddings", "vec_id")):
        out[t] = keep(tables[t], c, cut(t, c))
    return out


def sigma_for(tables: dict, seed: int) -> np.ndarray:
    """The seeded id permutation: identity outside [0, max id], and a
    shuffle inside each segment between consecutive id-range ends."""
    ends = {0}
    for t, cols in ID_COLUMNS.items():
        for c in cols:
            ends.add(int(np.max(tables[t][c].to_numpy())) + 1)
    ends.add(int(np.max(_props_ids(tables["events"]["props"]))) + 1)
    ends = sorted(ends)
    rng = np.random.default_rng(seed)
    sigma = np.arange(ends[-1], dtype=np.int64)
    for lo, hi in zip(ends, ends[1:]):
        sigma[lo:hi] = lo + rng.permutation(hi - lo)
    return sigma


def relabel(tables: dict, seed: int) -> dict:
    sigma = sigma_for(tables, seed)
    out = {}
    for t, tab in tables.items():
        for c in ID_COLUMNS[t]:
            i = tab.schema.get_field_index(c)
            field = tab.schema.field(i)
            ids = tab[c].to_numpy()
            if ids.min() < 0:
                raise ValueError(f"{t}.{c} has a negative id")
            tab = tab.set_column(i, field,
                                 pa.array(sigma[ids], type=field.type))
        if t == "events":
            i = tab.schema.get_field_index("props")
            peers = sigma[_props_ids(tab["props"])]
            tab = tab.set_column(i, tab.schema.field(i), pa.array(
                [f'{{"k": {k}}}' for k in peers.tolist()], type=pa.string()))
        out[t] = tab
    return out


def generate(seed: int, out_dir: str, source: str = DEFAULT_SOURCE,
             share: float = SHARE) -> dict:
    """Write the seed's tables under out_dir; returns the row counts.
    Row order is kept, so one seed always gives byte-identical files."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for t, tab in relabel(subset(load(source), share), seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{t}.parquet"),
                       compression="snappy")
        rows[t] = tab.num_rows
    with open(os.path.join(out_dir, "rows.json"), "w") as f:
        json.dump(rows, f, sort_keys=True)
    return rows


if __name__ == "__main__":
    src = sys.argv[3] if len(sys.argv) > 3 else DEFAULT_SOURCE
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2], src)))
