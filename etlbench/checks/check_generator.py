"""Seeded op generation: determinism and the job-validity guarantees."""

import numpy as np
import pytest

from etlbench import datagen, opgen


def _cycles(gen, n):
    return [gen.cycle() for _ in range(n)]


@pytest.mark.parametrize("make", [opgen.small_batches, opgen.bulk_load,
                                  opgen.fragmented_history])
def test_same_seed_same_ops(make):
    a, b = make(7), make(7)
    assert a.seed_batch.equals(b.seed_batch)
    for ca, cb in zip(_cycles(a, 3), _cycles(b, 3)):
        assert [o.kind for o in ca] == [o.kind for o in cb]
        for oa, ob in zip(ca, cb):
            assert oa.params == ob.params
            assert (oa.batch is None) == (ob.batch is None)
            assert oa.batch is None or oa.batch.equals(ob.batch)


def test_different_seed_different_data():
    assert not opgen.small_batches(1).seed_batch.equals(opgen.small_batches(2).seed_batch)


def test_tpch_tables_deterministic():
    a, b = datagen.tpch_tables(3), datagen.tpch_tables(3)
    assert all(a[name].equals(b[name]) for name in a)
    assert a["lineitem"].num_rows == datagen.SIZES["lineitem"]


def _live(gen):
    return dict(zip(gen.model.keys.tolist(), gen.model.parts.tolist()))


@pytest.mark.parametrize("make", [opgen.small_batches, opgen.bulk_load])
def test_every_job_is_valid_and_merge_keys_unique(make):
    gen = make(11)
    pk, part_col = gen.shape.pk, gen.shape.part_col
    values = gen.shape.part_values
    live = dict(zip(gen.seed_batch[pk].to_pylist(),
                    (values.index(v) for v in gen.seed_batch[part_col].to_pylist())))
    for _ in range(4):
        for op in gen.cycle():
            if op.kind == "delete":
                doomed = [k for k in live if op.params["lo"] <= k < op.params["hi"]]
                assert len(doomed) == op.params["n_rows"]
                for k in doomed:
                    del live[k]
                continue
            if op.batch is None:
                continue
            keys = op.batch[pk].to_pylist()
            parts = [values.index(v) for v in op.batch[part_col].to_pylist()]
            assert len(set(keys)) == len(keys), f"{op.kind} repeats a primary key"
            if op.kind == "update":
                assert all(k in live for k in keys)
                assert all(live[k] == p for k, p in zip(keys, parts))
            elif op.kind == "upsert":
                old = [(k, p) for k, p in zip(keys, parts) if k in live]
                assert 0 < len(old) < len(keys)
                assert all(live[k] == p for k, p in old)  # no partition moves
                live.update(zip(keys, parts))
            elif op.kind == "append":
                assert not any(k in live for k in keys)
                live.update(zip(keys, parts))
            elif op.kind == "overwrite":
                assert len(set(parts)) == 1
                live = {k: p for k, p in live.items() if p != parts[0]}
                live.update(zip(keys, parts))
        assert live == _live(gen)


def test_delete_range_removes_exactly_n():
    rng = np.random.default_rng(0)
    model = opgen.KeyModel(np.arange(0, 1000, 3), np.zeros(334, dtype=int))
    lo, hi = model.delete_range(rng, 50)
    assert len(model) == 334 - 50
    assert not np.any((model.keys >= lo) & (model.keys < hi))


def test_read_cycle_covers_every_read_kind():
    rng = np.random.default_rng(0)
    ops = opgen.read_cycle(rng, np.arange(100), [1, 2, 3, 4])
    kinds = {o.params.get("q", o.kind) for o in ops}
    assert kinds == {"point", "partition_agg", "full_agg", "join", "version",
                     "changes", "registry", "refresh", "recon"}
    assert {o.params["version"] for o in ops if "version" in o.params} == {3}
