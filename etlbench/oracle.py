"""DuckDB replay of op sequences and result comparison.

The replay applies every ETL job the run executed to a DuckDB table,
with the reference job semantics (FIXTURES.md §2):

- append inserts the batch;
- overwrite replaces exactly the partitions present in the batch;
- update sets the update columns of matched keys, inserting nothing;
- upsert does the same and inserts unmatched keys with only the
  primary-key and update columns set, every other column NULL;
- delete removes the rows of its key range.

Expected read results come from SQL over the replayed table, so a
mismatch points at the engine, never at a second Python model.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import pyarrow as pa

REL_TOL = 1e-9


class Replay:
    """The expected state of one ETL target, as a DuckDB table ``t``."""

    def __init__(self, seed_batch: pa.Table, pk: list[str], part_col: str,
                 update_cols: list[str], upsert_cols: list[str]) -> None:
        self.pk, self.part_col = list(pk), part_col
        self.update_cols, self.upsert_cols = update_cols, upsert_cols
        self.columns = seed_batch.column_names
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.register("seed_batch", seed_batch)
        self.con.execute("CREATE TABLE t AS SELECT * FROM seed_batch")
        self.con.unregister("seed_batch")

    def _on(self, left: str, right: str) -> str:
        return " AND ".join(f"{left}.{c} = {right}.{c}" for c in self.pk)

    def _set_matched(self, cols: list[str]) -> None:
        assign = ", ".join(f"{c} = b.{c}" for c in cols)
        self.con.execute(f"UPDATE t SET {assign} FROM b WHERE {self._on('t', 'b')}")

    def apply(self, kind: str, batch: pa.Table | None = None,
              params: dict | None = None) -> None:
        if kind == "delete":  # a key range over the first key column
            key = self.pk[0]
            self.con.execute(f"DELETE FROM t WHERE {key} >= ? AND {key} < ?",
                             [params["lo"], params["hi"]])
            return
        self.con.register("b", batch)
        try:
            if kind == "append":
                self.con.execute("INSERT INTO t SELECT * FROM b")
            elif kind == "overwrite":
                self.con.execute(f"DELETE FROM t WHERE {self.part_col} IN "
                                 f"(SELECT DISTINCT {self.part_col} FROM b)")
                self.con.execute("INSERT INTO t SELECT * FROM b")
            elif kind == "update":
                self._set_matched(self.update_cols)
            elif kind == "upsert":
                self._set_matched(self.upsert_cols)
                cols = list(dict.fromkeys(self.pk + self.upsert_cols))
                names = ", ".join(cols)
                self.con.execute(
                    f"INSERT INTO t ({names}) SELECT {', '.join('b.' + c for c in cols)} "
                    f"FROM b WHERE NOT EXISTS (SELECT 1 FROM t WHERE {self._on('t', 'b')})")
            else:
                raise ValueError(f"not an ETL write kind: {kind!r}")
        finally:
            self.con.unregister("b")

    def rows(self, sql: str) -> list[tuple]:
        """Run ``sql`` over the current replay state (table ``t``)."""
        return self.con.execute(sql).fetchall()

    def snapshot(self, name: str) -> None:
        """Keep the current state as table ``name``."""
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM t")

    def diff_count(self, actual: pa.Table) -> tuple[int, int]:
        """(expected rows missing from ``actual``, rows of ``actual``
        not expected), as multisets."""
        self.con.register("actual", actual.select(self.columns))
        try:
            missing = self.con.execute(
                "SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL "
                "SELECT * FROM actual)").fetchone()[0]
            extra = self.con.execute(
                "SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL "
                "SELECT * FROM t)").fetchone()[0]
        finally:
            self.con.unregister("actual")
        return int(missing), int(extra)


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _sort_key(row: tuple) -> tuple:
    """Numbers first (rounded, so values differing only in the last
    bits sort alike), then other values by repr, then NULLs."""
    key = []
    for v in row:
        if v is None:
            key.append((2, 0.0, ""))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            key.append((0, round(float(v), 6), ""))
        else:
            key.append((1, 0.0, repr(v)))
    return tuple(key)


def _value_eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6)
    return a == b


def rows_match(actual, expected) -> bool:
    """Order-insensitive row comparison; numbers equal within
    ``REL_TOL``, decimals compared as floats, zoned timestamps as UTC."""
    a = sorted((tuple(_canon(v) for v in r) for r in actual), key=_sort_key)
    e = sorted((tuple(_canon(v) for v in r) for r in expected), key=_sort_key)
    if len(a) != len(e):
        return False
    return all(len(ra) == len(re) and all(map(_value_eq, ra, re))
               for ra, re in zip(a, e))
