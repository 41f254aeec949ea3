"""Seeded op sequences for the three workloads.

A workload is a closed loop over *cycles*: a fixed op pattern of ETL
jobs, read-side ops (refresh, recon, query) and maintenance. The loop
only stops at a cycle boundary, so every run executes the same op
sequence; the seed decides the data, keys, partitions and ranges.

The generator tracks which keys are live in each partition so every
job is valid: updates and upserts name existing keys, deletes cover
live key ranges, and no merge source ever repeats a primary key
(``merge`` refuses duplicate source keys, as Delta does). The engine
only ever sees the YAML templates, their ``${param}`` values and the
staged source files written from ``Op.batch``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from etlbench import datagen

WRITE_KINDS = ("append", "overwrite", "update", "upsert", "delete")


@dataclass
class Op:
    """One unit of client work. ``batch`` holds the source rows of an
    ETL job; ``params`` the template values or the read's spec."""

    kind: str
    params: dict = field(default_factory=dict)
    batch: pa.Table | None = None

    @property
    def rows(self) -> int:
        """User rows the op writes (source rows of an ETL job)."""
        if self.kind == "delete":
            return int(self.params["n_rows"])
        return self.batch.num_rows if self.batch is not None else 0


class KeyModel:
    """Live primary keys and the partition (an index) each lives in."""

    def __init__(self, keys: np.ndarray, parts: np.ndarray) -> None:
        self.keys = np.asarray(keys, dtype=np.int64)
        self.parts = np.asarray(parts, dtype=np.int64)
        self.next_key = int(self.keys.max()) + 1 if len(self.keys) else 0

    def __len__(self) -> int:
        return len(self.keys)

    def fresh(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys

    def sample(self, rng: np.random.Generator, n: int,
               part: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        """``n`` distinct live keys (of one partition when given), with
        their partitions."""
        idx = np.flatnonzero(self.parts == part) if part is not None else \
            np.arange(len(self.keys))
        pick = np.sort(rng.choice(idx, size=min(n, len(idx)), replace=False))
        return self.keys[pick], self.parts[pick]

    def add(self, keys: np.ndarray, parts: np.ndarray) -> None:
        self.keys = np.concatenate([self.keys, keys])
        self.parts = np.concatenate([self.parts, parts])

    def drop_partition(self, part: int) -> None:
        keep = self.parts != part
        self.keys, self.parts = self.keys[keep], self.parts[keep]

    def delete_range(self, rng: np.random.Generator, n: int) -> tuple[int, int]:
        """A ``[lo, hi)`` key range holding exactly ``n`` live keys,
        removed from the model."""
        order = np.sort(self.keys)
        start = int(rng.integers(0, len(order) - n))
        lo, hi = int(order[start]), int(order[start + n])
        keep = (self.keys < lo) | (self.keys >= hi)
        self.keys, self.parts = self.keys[keep], self.parts[keep]
        return lo, hi


@dataclass(frozen=True)
class TableShape:
    """How one generator family builds rows for its target table."""

    pk: str
    part_col: str
    part_values: list[str]
    rows: object  # (rng, keys, part_idx) -> pa.Table


ORDERS = TableShape("o_orderkey", "o_orderpriority", datagen.PRIORITIES,
                    datagen.orders_rows)
LINEITEM = TableShape("l_key", "l_returnflag", datagen.RETURN_FLAGS,
                      datagen.keyed_lineitem_rows)


def write_op(kind: str, rng: np.random.Generator, model: KeyModel,
             shape: TableShape, n: int) -> Op:
    """One ETL job of ``kind`` touching about ``n`` rows; updates the
    model to the post-job key set."""
    nparts = len(shape.part_values)
    if kind == "append":
        keys = model.fresh(n)
        parts = rng.integers(0, nparts, n)
        model.add(keys, parts)
    elif kind == "overwrite":
        # restate one partition: most of its live keys with new values,
        # topped up with new keys; keys not restated disappear
        part = int(rng.integers(0, nparts))
        old, _ = model.sample(rng, int(n * 0.8), part)
        keys = np.sort(np.concatenate([old, model.fresh(n - len(old))]))
        parts = np.full(n, part)
        model.drop_partition(part)
        model.add(keys, parts)
    elif kind == "update":
        keys, parts = model.sample(rng, n)
    elif kind == "upsert":
        old, old_parts = model.sample(rng, n // 2)
        new = model.fresh(n - len(old))
        new_parts = rng.integers(0, nparts, len(new))
        model.add(new, new_parts)
        keys = np.concatenate([old, new])
        parts = np.concatenate([old_parts, new_parts])
    elif kind == "delete":
        lo, hi = model.delete_range(rng, n)
        return Op("delete", {"lo": lo, "hi": hi, "n_rows": n})
    else:
        raise ValueError(f"not an ETL write kind: {kind!r}")
    return Op(kind, batch=shape.rows(rng, keys, parts))


class CycleGenerator:
    """Endless seeded cycles following ``pattern``: each ETL write kind
    in it becomes a generated job, every other kind a plain op."""

    def __init__(self, seed: int, shape: TableShape, seed_rows: int,
                 batch_rows: int, pattern: tuple[str, ...]) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.shape = shape
        self.batch_rows = batch_rows
        self.pattern = pattern
        keys = np.arange(seed_rows, dtype=np.int64)
        parts = self.rng.integers(0, len(shape.part_values), seed_rows)
        self.seed_batch = shape.rows(self.rng, keys, parts)
        self.model = KeyModel(keys, parts)

    def cycle(self) -> list[Op]:
        return [write_op(k, self.rng, self.model, self.shape, self.batch_rows)
                if k in WRITE_KINDS else Op(k) for k in self.pattern]


def small_batches(seed: int) -> CycleGenerator:
    """``etl_small_batches``: two rounds of ~1k-row jobs of every
    operation against a 20k-row orders table, each round followed by an
    aggregate-view refresh and a recon; the cycle ends with the report
    query and table maintenance."""
    rounds = (*WRITE_KINDS, "refresh", "recon")
    return CycleGenerator(seed, ORDERS, seed_rows=20_000, batch_rows=1_000,
                          pattern=(*rounds, *rounds, "query", "maintain"))


def warmup(seed: int, kinds: tuple[str, ...]) -> CycleGenerator:
    """Toy-size jobs of ``kinds`` that pay their first-call costs
    (JIT, codegen, the first merge) before anything is measured."""
    return CycleGenerator(seed, ORDERS, seed_rows=500, batch_rows=50, pattern=kinds)


def fragmented_history(seed: int) -> CycleGenerator:
    """The small-batch history that leaves ``fragmented`` behind:
    a 12k-row seed, then 3k-row appends, a partition overwrite and a
    key-range delete, each its own commit of small files."""
    return CycleGenerator(seed, ORDERS, seed_rows=12_000, batch_rows=3_000,
                          pattern=("append", "overwrite", "append", "delete", "append"))


def bulk_load(seed: int) -> CycleGenerator:
    """``etl_bulk_load``: 100k-row upsert, append and partition
    overwrite jobs against a keyed lineitem table seeded with 100k rows,
    then refresh, recon, the report query and maintenance."""
    return CycleGenerator(seed, LINEITEM, seed_rows=100_000, batch_rows=100_000,
                          pattern=("upsert", "append", "overwrite",
                                   "refresh", "recon", "query", "maintain"))


REGISTRY_SAMPLE = ("pricing_summary", "shipping_priority", "market_share")


def read_cycle(rng: np.random.Generator, live_keys: np.ndarray,
               versions: list[int]) -> list[Op]:
    """One cycle of the ``analytics_reads`` mix over ``fragmented``
    and ``compact``; ``versions`` lists the fragmented table's data
    versions, oldest first. Time-travel and change-feed reads start at
    the middle one, so every seed reads the same amount of history."""
    k1, k2 = (int(k) for k in rng.choice(live_keys, 2, replace=False))
    p1, p2 = (datagen.PRIORITIES[int(i)] for i in rng.integers(0, 5, 2))
    v = versions[len(versions) // 2]
    ops = [
        Op("query", {"q": "point", "table": "fragmented", "key": k1}),
        Op("query", {"q": "point", "table": "compact", "key": k2}),
        Op("query", {"q": "partition_agg", "table": "fragmented", "part": p1}),
        Op("query", {"q": "partition_agg", "table": "compact", "part": p2}),
        Op("query", {"q": "full_agg", "table": "fragmented"}),
        Op("query", {"q": "join", "table": "compact"}),
        Op("query", {"q": "version", "table": "fragmented", "version": v}),
        Op("query", {"q": "changes", "table": "fragmented", "version": v}),
        *[Op("query", {"q": "registry", "name": n}) for n in REGISTRY_SAMPLE],
        Op("refresh"),
        Op("recon"),
    ]
    return ops
