"""Seeded input generator: a whole-entity resample of the fixture tables.

    python3 perfbench/gen.py --seed 1 --size 0.01 --out DIR

The ten tables of FIXTURES.md are drawn from the fixture copies under
``fixtures/`` with ``numpy.random.default_rng(seed)``. Rows keep the
fixtures' values, so the value distributions are the fixtures' own; only
which rows appear, how often, and under which keys changes with the seed:

- ``region`` and ``nation`` are copied: their keys are fixed by design;
- ``part`` and ``supplier`` keep every row, with keys relabelled by a
  seeded bijection onto the same key range;
- ``customer`` is drawn with replacement, each copy under a new key. A
  drawn customer brings its orders and their lineitems, and those get new
  keys too, so every foreign key points at an existing row;
- ``events`` is drawn by user, with replacement: a drawn user brings its
  whole history under a new ``user_id``, and ``event_id`` is renumbered
  in ``ts`` order, so it stays unique and rises with ``ts``;
- ``documents`` and ``embeddings`` are drawn without replacement from the
  larger sf0.1 fixtures, so no document is drawn twice, and are relabelled.

The fixture invariants carry over: unique primary keys, foreign keys that
resolve, ``n_chars == length(text)``, 64-dimensional embeddings, and the
five ``event_type`` values. Row counts match the fixture's to within the
resampling noise (about 1%).

``events.parquet`` is written as a directory holding one file, as a
Spark-written table is. The streaming keys read such a directory in
place; a single file would first be copied to a staging path fixed inside
the package, outside the output directory.
"""

from __future__ import annotations

import argparse
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SIZES = (0.001, 0.01)
#: sampled without replacement from this larger fixture, at every size
POOL = {"documents": ("doc_id", 500), "embeddings": ("vec_id", 500)}
POOL_SIZE = "sf0.1"


def _relabel(rng: np.random.Generator, keys: np.ndarray) -> np.ndarray:
    """A seeded bijection of ``keys`` onto the same sorted key set."""
    return np.sort(keys)[rng.permutation(len(keys))]


def _set(table: pa.Table, column: str, values) -> pa.Table:
    i = table.schema.get_field_index(column)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def _remap(old: np.ndarray, src: np.ndarray, new: np.ndarray) -> np.ndarray:
    """Replace each value of ``old`` (all present in ``src``) by the
    ``new`` value at the same position."""
    order = np.argsort(src)
    return new[order][np.searchsorted(src[order], old)]


def build(seed: int, size: float) -> dict[str, pa.Table]:
    """All ten tables, resampled with ``seed`` from the ``size`` fixture."""
    if size not in SIZES:
        raise ValueError(f"size must be one of {SIZES}, not {size}")
    rng = np.random.default_rng(seed)
    src = os.path.join(FIXTURES, f"sf{size}")
    fx = {f.removesuffix(".parquet"): pq.read_table(os.path.join(src, f)) for f in sorted(os.listdir(src))}
    con = duckdb.connect()
    t = {"region": fx["region"], "nation": fx["nation"]}

    maps: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for name, key in (("part", "p_partkey"), ("supplier", "s_suppkey")):
        old = fx[name][key].to_numpy()
        maps[name] = (old, _relabel(rng, old))
        t[name] = _set(fx[name], key, maps[name][1]).sort_by(key)

    # customers with replacement; each copy's orders follow it
    cust = fx["customer"]
    ckeys = cust["c_custkey"].to_numpy()
    draw = rng.integers(0, len(ckeys), len(ckeys))
    new_c = _relabel(rng, ckeys)
    t["customer"] = _set(cust.take(draw), "c_custkey", new_c).sort_by("c_custkey")
    copies = pa.table({"src_c": ckeys[draw], "new_c": new_c})
    con.register("copies", copies)
    con.register("orders", fx["orders"])
    orders = con.execute(
        "SELECT o.*, c.new_c FROM copies c JOIN orders o ON o.o_custkey = c.src_c ORDER BY c.new_c, o.o_orderkey"
    ).fetch_arrow_table()
    src_o = orders["o_orderkey"].to_numpy()
    new_o = rng.permutation(len(src_o)).astype(np.int64)
    orders = _set(orders, "o_custkey", orders["new_c"].to_numpy())
    t["orders"] = _set(orders.drop_columns(["new_c"]), "o_orderkey", new_o).sort_by("o_orderkey")

    con.register("order_copies", pa.table({"src_o": src_o, "new_o": new_o}))
    con.register("lineitem", fx["lineitem"])
    li = con.execute(
        "SELECT l.*, c.new_o FROM order_copies c JOIN lineitem l ON l.l_orderkey = c.src_o "
        "ORDER BY c.new_o, l.l_linenumber"
    ).fetch_arrow_table()
    li = _set(li, "l_orderkey", li["new_o"].to_numpy()).drop_columns(["new_o"])
    li = _set(li, "l_partkey", _remap(li["l_partkey"].to_numpy(), *maps["part"]))
    t["lineitem"] = _set(li, "l_suppkey", _remap(li["l_suppkey"].to_numpy(), *maps["supplier"]))

    # users with replacement; each copy brings its whole event history
    users = np.unique(fx["events"]["user_id"].to_numpy())
    con.register("user_copies", pa.table({"src_u": users[rng.integers(0, len(users), len(users))],
                                          "new_u": _relabel(rng, users)}))  # fmt: skip
    con.register("events", fx["events"])
    ev = con.execute(
        "SELECT e.*, c.new_u FROM user_copies c JOIN events e ON e.user_id = c.src_u "
        "ORDER BY e.ts, c.new_u, e.event_id"
    ).fetch_arrow_table()
    ev = _set(ev, "user_id", ev["new_u"].to_numpy()).drop_columns(["new_u"])
    first = int(fx["events"]["event_id"].to_numpy().min())
    t["events"] = _set(ev, "event_id", np.arange(first, first + len(ev), dtype=np.int64))

    for name, (key, n) in POOL.items():
        pool = pq.read_table(os.path.join(FIXTURES, POOL_SIZE, f"{name}.parquet"))
        picked = pool.take(np.sort(rng.choice(len(pool), n, replace=False)))
        t[name] = _set(picked, key, rng.permutation(n).astype(np.int64)).sort_by(key)
    con.close()
    # DuckDB's round trip may widen types; give back the fixtures' schemas
    return {name: table.cast(fx[name].schema) if name in fx else table for name, table in t.items()}


def write(seed: int, size: float, out_dir: str) -> str:
    """Write the ten tables under ``out_dir``, one row group each, as the
    fixtures are; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed, size).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "events":
            os.makedirs(path, exist_ok=True)
            path = os.path.join(path, "part-00000.parquet")
        pq.write_table(table, path, row_group_size=1 << 30)
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=float, required=True, choices=SIZES)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    write(args.seed, args.size, args.out)
