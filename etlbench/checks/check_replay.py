"""The DuckDB replay against the golden job shapes of FIXTURES.md §2."""

import datetime as dt
import decimal

import pyarrow as pa
import pytest

from etlbench.oracle import Replay, rows_match

D = dt.date
SCHEMA = pa.schema([("pk1", pa.int32()), ("pk2", pa.string()), ("pk3", pa.date32()),
                    ("c1", pa.int32()), ("c2", pa.string()), ("c3", pa.date32()),
                    ("c4", pa.int32()), ("c5", pa.int32()), ("c6", pa.int32())])


def _table(rows):
    return pa.Table.from_pylist([dict(zip(SCHEMA.names, r)) for r in rows], SCHEMA)


TARGET = _table([
    (1, "a", D(2020, 6, 26), 11, "aa1", D(2020, 6, 25), 1111, 11111, 111111),
    (2, "a", D(2020, 6, 26), 112, "aa2", D(2020, 6, 25), 1112, 11112, 111112),
    (3, "a", D(2020, 6, 26), 113, "aa3", D(2020, 6, 25), 1113, 11113, 111113),
    (3, "b", D(2020, 6, 26), 113, "aa3", D(2020, 6, 25), 1113, 11113, 111113),
])
# select *, null as c5, null as c6 from source_table
SOURCE = _table([(i, "a", D(2020, 6, 26), c1, "aa", D(2020, 6, 26), c4, None, None)
                 for i, c1, c4 in [(1, 11, 111), (2, 112, 1112), (3, 113, 1113),
                                   (4, 114, 1114), (5, 115, 1115)]])
PK = ["pk1", "pk2", "pk3"]
SET = ["c1", "c2", "c3", "c4"]


def _run(kind):
    rp = Replay(TARGET, PK, "pk2", SET, SET)
    rp.apply(kind, SOURCE)
    return rp


@pytest.mark.parametrize("kind,n_row,sum_c1", [
    ("append", 9, 814), ("overwrite", 6, 578), ("update", 4, 349), ("upsert", 6, 578),
])
def test_golden_counts(kind, n_row, sum_c1):
    rp = _run(kind)
    assert rp.rows("SELECT count(*), sum(c1) FROM t") == [(n_row, sum_c1)]


def test_upsert_inserts_carry_only_key_and_update_columns():
    rp = _run("upsert")
    inserted = rp.rows("SELECT pk1, c1, c2, c4, c5, c6 FROM t WHERE pk1 IN (4, 5)")
    assert sorted(inserted) == [(4, 114, "aa", 1114, None, None),
                                (5, 115, "aa", 1115, None, None)]
    # matched rows take the source's update columns and keep c5/c6
    assert sorted(rp.rows("SELECT pk1, c2, c3, c5 FROM t WHERE pk2 = 'a' AND pk1 <= 3")) == [
        (1, "aa", D(2020, 6, 26), 11111), (2, "aa", D(2020, 6, 26), 11112),
        (3, "aa", D(2020, 6, 26), 11113)]
    assert rp.rows("SELECT c2, c5 FROM t WHERE pk2 = 'b'") == [("aa3", 11113)]


def test_overwrite_replaces_only_source_partitions():
    rp = _run("overwrite")
    assert rp.rows("SELECT pk2, count(*), count(c5) FROM t GROUP BY 1 ORDER BY 1") == [
        ("a", 5, 0), ("b", 1, 1)]


def test_delete_range_and_diff_count():
    rp = Replay(TARGET, PK, "pk2", SET, SET)
    rp.apply("delete", params={"lo": 2, "hi": 3})
    assert rp.rows("SELECT pk1, pk2 FROM t ORDER BY 1, 2") == [(1, "a"), (3, "a"), (3, "b")]
    assert rp.diff_count(TARGET) == (0, 1)
    assert rp.diff_count(TARGET.filter(pa.compute.not_equal(TARGET["pk1"], 2))) == (0, 0)


def test_rows_match_tolerates_float_noise_and_decimals():
    assert rows_match([("a", 0.1 + 0.2), ("b", None)], [("b", None), ("a", 0.3)])
    assert rows_match([("a", decimal.Decimal("1.50"))], [("a", 1.5)])
    assert not rows_match([("a", 1.0)], [("a", 1.001)])
    assert not rows_match([("a", 1.0)], [("a", 1.0), ("a", 1.0)])
