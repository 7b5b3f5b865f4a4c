"""Seeded input generator for the CDC benchmark (pyarrow only, no Spark).

Two kinds of input:

- Debezium-style change envelopes in the ``sources/cdc.py::envelope_schema``
  shape, multiplexed over many source tables that are each split into
  ``_part_<n>`` shards. Every table shares one row schema, because the
  pipeline expands the union ``data.row`` for every table.
- TPC-H-shaped tables for the query registry (``queries()``), with the
  column names and types the registry reads.

The same ``--seed`` always gives byte-identical tables. Run standalone to
write one workload's inputs as parquet files::

    python3 perfbench/gen.py --workload backfill_fanout --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATABASE = "bench"


def load_knobs() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def row_schema(width: int) -> pa.StructType:
    """The one row schema every source table shares. ``width`` counts
    the string pad columns that set the row size."""
    fields = [
        pa.field("id", pa.int64()),
        pa.field("ref", pa.int64()),
        pa.field("grp", pa.int32()),
        pa.field("amount", pa.float64()),
        pa.field("note", pa.string()),
    ]
    fields += [pa.field(f"pad{i}", pa.string()) for i in range(width)]
    return pa.struct(fields)


def row_columns(width: int) -> list[str]:
    return [f.name for f in row_schema(width)]


def envelope_type(width: int) -> pa.Schema:
    row = row_schema(width)
    data = pa.struct(
        [
            pa.field("database_name", pa.string()),
            pa.field("table_name", pa.string()),
            pa.field("full_table_name", pa.string()),
            pa.field("primary_key", pa.string()),
            pa.field("row", row),
            pa.field("old_row", row),
            pa.field("metadata", pa.struct([pa.field("is_delete", pa.bool_())])),
        ]
    )
    return pa.schema([pa.field("data", data), pa.field("seq", pa.int64())])


def table_name(t: int) -> str:
    return f"t{t:02d}"


@dataclass
class ChangeStream:
    """Stateful envelope generator for one set of source tables.

    ``mix`` is (insert, update, delete) shares. Inserts take fresh keys;
    updates and deletes pick keys among the ``base_keys`` already loaded,
    Zipf-skewed with exponent ``zipf`` (0 = uniform) over a fixed
    permutation so the hot keys are scattered. ``seq`` is one global,
    strictly increasing counter, so every key has a unique newest event."""

    seed: int
    tables: int
    shards: int
    base_keys: int
    width: int
    zipf: float = 0.0
    next_seq: int = 1
    next_key: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        if not self.next_key:
            self.next_key = [0] * self.tables
        if self.zipf > 0 and self.base_keys > 0:
            w = 1.0 / np.arange(1, self.base_keys + 1, dtype=np.float64) ** self.zipf
            self._cdf = np.cumsum(w / w.sum())
            # which keys are hot is part of the workload, not of the seed:
            # the seed varies the events drawn, not the shape of the skew
            self._perm = np.random.default_rng(0).permutation(self.base_keys)
        self.schema = envelope_type(self.width)

    def _existing_keys(self, n: int) -> np.ndarray:
        if self.base_keys <= 0:
            return np.zeros(n, dtype=np.int64)
        if self.zipf <= 0:
            return self.rng.integers(0, self.base_keys, n, dtype=np.int64)
        ranks = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        return self._perm[np.minimum(ranks, self.base_keys - 1)].astype(np.int64)

    def load(self, table: int) -> pa.Table:
        """Insert events for keys ``[0, base_keys)`` of one table: the
        initial load that seeds a store."""
        n = self.base_keys
        keys = np.arange(n, dtype=np.int64)
        self.next_key[table] = max(self.next_key[table], n)
        return self._build(np.full(n, table), keys, np.zeros(n, dtype=np.int8))

    def changes(self, n: int, mix: tuple[float, float, float]) -> pa.Table:
        """``n`` change events spread uniformly over the tables."""
        tables = self.rng.integers(0, self.tables, n)
        ops = self.rng.choice(3, size=n, p=np.asarray(mix) / sum(mix)).astype(np.int8)
        keys = self._existing_keys(n)
        for t in range(self.tables):
            idx = np.flatnonzero(tables == t)
            inserted = np.cumsum(ops[idx] == 0) + self.next_key[t]
            if self.base_keys <= 0:
                # no loaded keys: updates and deletes hit keys this
                # stream inserted earlier, and the first event of a
                # table is always an insert
                ops[idx[inserted == 0]] = 0
                inserted = np.cumsum(ops[idx] == 0) + self.next_key[t]
                keys[idx] = (self.rng.random(len(idx)) * inserted).astype(np.int64)
            new = ops[idx] == 0
            keys[idx[new]] = inserted[new] - 1
            self.next_key[t] = int(inserted[-1]) if len(idx) else self.next_key[t]
        return self._build(tables, keys, ops)

    def _build(self, tables: np.ndarray, keys: np.ndarray, ops: np.ndarray) -> pa.Table:
        n = len(keys)
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        rng = self.rng
        ref_space = max(self.base_keys, 1)
        seq_s = pc.cast(pa.array(seq), pa.string())
        cols = {
            "id": pa.array(keys),
            "ref": pa.array(rng.integers(0, ref_space, n, dtype=np.int64)),
            "grp": pa.array(rng.integers(0, 100, n, dtype=np.int32)),
            "amount": pa.array(np.round(rng.random(n) * 1000.0, 2)),
            "note": pc.binary_join_element_wise("n", seq_s, ""),
        }
        for i in range(self.width):
            cols[f"pad{i}"] = pc.binary_join_element_wise(f"pad{i}-", seq_s, "-xxxxxxxx", "")
        rtype = row_schema(self.width)
        children = [cols[f.name] for f in rtype]
        is_delete = ops == 2
        row = pa.StructArray.from_arrays(
            children, fields=list(rtype), mask=pa.array(is_delete)
        )
        old_row = pa.StructArray.from_arrays(
            children, fields=list(rtype), mask=pa.array(ops == 0)
        )
        shard_names = np.array(
            [
                [f"{table_name(t)}_part_{s}" for s in range(self.shards)]
                for t in range(self.tables)
            ],
            dtype=object,
        )
        tnames = shard_names[tables, keys % self.shards]
        tname_arr = pa.array(tnames, pa.string())
        data = pa.StructArray.from_arrays(
            [
                pa.array(np.full(n, DATABASE, dtype=object), pa.string()),
                tname_arr,
                pc.binary_join_element_wise(DATABASE, tname_arr, "."),
                pc.cast(pa.array(keys), pa.string()),
                row,
                old_row,
                pa.StructArray.from_arrays(
                    [pa.array(is_delete)],
                    fields=[pa.field("is_delete", pa.bool_())],
                ),
            ],
            fields=list(self.schema.field("data").type),
        )
        return pa.Table.from_arrays([data, pa.array(seq)], schema=self.schema)


def change_events(k: dict) -> int:
    """Number of change events the standalone CLI writes for a CDC
    workload: the backfill, all merges, or the catch-up bursts."""
    if "events" in k:
        return k["events"]
    if "merges" in k:
        return k["merges"] * k["events_per_merge"]
    return k["events_per_file"] * k["burst_files"] * k["burst_rounds"]


def write_files(table: pa.Table, out_dir: str, per_file: int, prefix: str) -> list[str]:
    """Split ``table`` into parquet files of ``per_file`` events."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, off in enumerate(range(0, table.num_rows, per_file)):
        p = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(off, per_file), p)
        paths.append(p)
    return paths


# ---- TPC-H-shaped tables for the query registry --------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
COLORS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
          "black", "blanched", "blue", "blush", "brown", "burlywood",
          "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
          "cream", "cyan", "dark", "forest", "green", "khaki", "lace"]
WORDS = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
         "data", "stream", "change", "table", "snapshot", "merge", "key",
         "spark", "query", "engine", "row", "batch"]


def _pick(rng, values: list, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _ts(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def tpch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables (plus ``documents``/``embeddings``) with the
    registry's column names and types. ``scale`` 0.01 gives 15k orders
    and about 60k line items."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pc.binary_join_element_wise("Customer#", pc.cast(pa.array(ck), pa.string()), ""),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pc.binary_join_element_wise("Supplier#", pc.cast(pa.array(sk), pa.string()), ""),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    ptype = pc.binary_join_element_wise(
        _pick(rng, TYPE_A, n_part), _pick(rng, TYPE_B, n_part), _pick(rng, TYPE_C, n_part), " "
    )
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pc.binary_join_element_wise(
            _pick(rng, COLORS, n_part), _pick(rng, COLORS, n_part), " "
        ),
        "p_brand": pc.binary_join_element_wise(
            "Brand#", pc.cast(pa.array(rng.integers(1, 6, n_part) * 10 + rng.integers(1, 6, n_part)), pa.string()), ""
        ),
        "p_type": ptype,
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) + rng.random(n_part), 2),
    })
    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1992-01-01", 2400),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(ok, lines)
    n_li = len(lk)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(1, n_part + 1, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li, dtype=np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1992-01-02", 2500),
    })
    n_doc = max(int(50_000 * scale), 50)
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(k))])
        for k in rng.integers(4, 24, n_doc)
    ]
    # every tenth document repeats an earlier one: exact-dedup has work
    for i in range(10, n_doc, 10):
        texts[i] = texts[i - 10]
    out["documents"] = pa.table({
        "doc_id": np.arange(1, n_doc + 1, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "de", "fr"], n_doc),
        "source": _pick(rng, ["web", "news", "wiki"], n_doc),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_doc, 16)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(1, n_doc + 1, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_doc, dtype=np.int32)),
    })
    return out


def write_tpch(seed: int, scale: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tpch_tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    k = load_knobs()[args.workload]
    if "registry_scale" in k:
        write_tpch(args.seed, k["registry_scale"], os.path.join(args.out, "tpch"))
    cs = ChangeStream(args.seed, k["tables"], k["shards"], k["base_keys"], k["width"], k["zipf"])
    if k["base_keys"]:
        for t in range(k["tables"]):
            write_files(cs.load(t), os.path.join(args.out, "load"), k["events_per_file"], f"t{t:02d}")
    write_files(
        cs.changes(change_events(k), tuple(k["mix"])), os.path.join(args.out, "changes"),
        k["events_per_file"], "c",
    )


if __name__ == "__main__":
    main()
