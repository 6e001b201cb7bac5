"""Benchmark inputs: the carried sf0.01 tables and the seeded change
batches of the ``ingest`` workload.

Only pyarrow runs here. The engine sees nothing but the parquet files this
module lands.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
#: The reference star schema at sf0.01, carried in the benchmark so it runs
#: wherever the checkout is (10 tables, 1.9 MB; 60k lineitems).
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
#: The tables the enriched fact (``plans.star``) and the OLAP queries read.
FACT_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def base_tables_present() -> bool:
    return all(os.path.isfile(f"{BASE_DIR}/{t}.parquet") for t in TABLES)


def place(dst: str, tables=TABLES) -> dict:
    """Copy the carried ``tables`` under ``dst``; returns rows per table."""
    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name in tables:
        shutil.copyfile(f"{BASE_DIR}/{name}.parquet", f"{dst}/{name}.parquet")
        rows[name] = pq.ParquetFile(f"{dst}/{name}.parquet").metadata.num_rows
    return rows


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


class IngestFeed:
    """Seeded change batches landed as parquet part files.

    ``orders.parquet`` and ``lineitem.parquet`` under ``src`` are
    directories of ``n_parts`` part files split by order key. A batch picks
    one part, deletes ``per_kind`` of its orders, changes the lines of
    another ``per_kind`` and inserts ``per_kind`` new orders (copies of
    surviving orders under fresh keys), then lands the rewritten part pair.
    Deletes and inserts balance, so the table size and the batch cost stay
    flat over a run.

    Every part file lives once under ``store`` and is hard-linked into the
    table directory; a replaced part is only unlinked from the table, so
    each batch's source snapshot stays readable for the oracle after the run.
    """

    def __init__(self, src: str, store: str, n_parts: int, per_kind: int, seed: int):
        self.src, self.store = src, store
        self.per_kind = per_kind
        self.rng = random.Random(seed)
        os.makedirs(store, exist_ok=True)
        place(src, [t for t in FACT_TABLES if t not in ("orders", "lineitem")])
        orders = pq.read_table(f"{BASE_DIR}/orders.parquet").sort_by("o_orderkey")
        lineitem = pq.read_table(f"{BASE_DIR}/lineitem.parquet")
        keys = orders.column("o_orderkey").to_pylist()
        bounds = [keys[(len(keys) * p) // n_parts] for p in range(1, n_parts)]
        self.next_key = keys[-1] + 1
        self.parts = []  # [(orders part, lineitem part)]
        lo = None
        for p in range(n_parts):
            hi = bounds[p] if p < len(bounds) else None
            self.parts.append((
                orders.filter(_key_range(orders, "o_orderkey", lo, hi)),
                lineitem.filter(_key_range(lineitem, "l_orderkey", lo, hi)),
            ))
            lo = hi
        self.files = {"orders": [None] * n_parts, "lineitem": [None] * n_parts}
        for t in self.files:
            os.makedirs(f"{src}/{t}.parquet", exist_ok=True)
        for p, (o, li) in enumerate(self.parts):
            self._land(p, o, li, "init")
        self.rows = {"orders": orders.num_rows, "lineitem": lineitem.num_rows}

    def _land(self, p: int, orders: pa.Table, lineitem: pa.Table, tag: str) -> int:
        landed = 0
        for t, tbl in (("orders", orders), ("lineitem", lineitem)):
            name = f"part-{p:03d}-{tag}.parquet"
            stored = f"{self.store}/{t}-{name}"
            pq.write_table(tbl, stored)
            landed += os.path.getsize(stored)
            os.link(stored, f"{self.src}/{t}.parquet/{name}")
            old = self.files[t][p]
            if old is not None:
                os.unlink(f"{self.src}/{t}.parquet/{os.path.basename(old)[len(t) + 1:]}")
            self.files[t][p] = stored
        self.parts[p] = (orders, lineitem)
        return landed

    def snapshot(self) -> dict:
        """The stored part files that make up the current source tables."""
        return {t: list(v) for t, v in self.files.items()}

    def next_batch(self, batch_id: int) -> dict:
        """Land one change batch; returns its affected order keys, the fact
        rows it changes, the bytes landed and the resulting snapshot."""
        p = self.rng.randrange(len(self.parts))
        orders, lineitem = self.parts[p]
        keys = orders.column("o_orderkey").to_pylist()
        picked = self.rng.sample(keys, 3 * self.per_kind)
        deleted = picked[: self.per_kind]
        changed = picked[self.per_kind: 2 * self.per_kind]
        templates = picked[2 * self.per_kind:]
        new_keys = list(range(self.next_key, self.next_key + self.per_kind))
        self.next_key += self.per_kind

        lk = lineitem.column("l_orderkey")
        del_mask = pc.is_in(lk, pa.array(deleted, pa.int64()))
        chg_mask = pc.is_in(lk, pa.array(changed, pa.int64()))
        qty, price = lineitem.column("l_quantity"), lineitem.column("l_extendedprice")
        unit = pc.round(pc.divide(price, qty), 2)
        lineitem = lineitem.set_column(
            lineitem.column_names.index("l_quantity"), "l_quantity",
            pc.if_else(chg_mask, pc.add(qty, 1.0), qty))
        lineitem = lineitem.set_column(
            lineitem.column_names.index("l_extendedprice"), "l_extendedprice",
            pc.if_else(chg_mask, pc.add(price, unit), price))
        remap = dict(zip(templates, new_keys))
        new_orders = _rekey(orders, "o_orderkey", remap)
        new_lines = _rekey(lineitem, "l_orderkey", remap)
        orders = pa.concat_tables([
            orders.filter(pc.invert(pc.is_in(orders.column("o_orderkey"),
                                             pa.array(deleted, pa.int64())))),
            new_orders,
        ])
        changed_rows = (pc.sum(del_mask).as_py() + pc.sum(chg_mask).as_py()
                        + new_lines.num_rows)
        lineitem = pa.concat_tables([lineitem.filter(pc.invert(del_mask)), new_lines])
        landed = self._land(p, orders, lineitem, f"b{batch_id:05d}")
        return {
            "keys": deleted + changed + new_keys,
            "changed_rows": changed_rows,
            "landed_bytes": landed,
            "snapshot": self.snapshot(),
        }


def _key_range(tbl: pa.Table, col: str, lo, hi):
    c = tbl.column(col)
    mask = pc.greater_equal(c, lo) if lo is not None else pc.is_valid(c)
    if hi is not None:
        mask = pc.and_(mask, pc.less(c, hi))
    return mask


def _rekey(tbl: pa.Table, col: str, remap: dict) -> pa.Table:
    """Rows whose ``col`` is a key of ``remap``, with that key replaced."""
    rows = tbl.filter(pc.is_in(tbl.column(col), pa.array(list(remap), pa.int64())))
    new = pa.array([remap[k] for k in rows.column(col).to_pylist()],
                   tbl.schema.field(col).type)
    return rows.set_column(tbl.column_names.index(col), col, new)
