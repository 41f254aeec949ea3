"""Property-based txlog test (hypothesis): arbitrary operation
sequences against a plain-Python model.

The model is a dict of row-lists per version; after every committed
operation the connector's snapshot must equal the model, every
HISTORICAL version must still time-travel to its recorded state, and
vacuum(default) must never change any readable version. This is the
state-machine evidence that the log replay, file-level rewrites, and
data skipping compose correctly — single example runs are kept small
because each op is a Spark write.
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from x_spark.sources import init_datasource
from x_spark.sources.base import MergeSpec, TableRef

SETTINGS = settings(
    max_examples=6,  # each example is a full multi-commit Spark run
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=4)
vals = st.integers(min_value=-2, max_value=2)
rows_strategy = st.lists(
    st.tuples(keys, vals), min_size=0, max_size=4, unique_by=lambda r: r[0]
)


@st.composite
def op_sequence(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    ops = []
    for _ in range(n):
        kind = draw(st.sampled_from(["append", "overwrite", "merge", "delete",
                                     "truncate"]))
        if kind in ("append", "overwrite", "merge"):
            ops.append((kind, draw(rows_strategy)))
        elif kind == "delete":
            ops.append((kind, draw(keys)))
        else:
            ops.append((kind, None))
    return ops


def _model_apply(model_rows, op, payload):
    """Apply one op to the model (a multiset of (pk, v) tuples —
    appends can create duplicate pks across commits)."""
    if op == "append":
        return model_rows + list(payload)
    if op == "overwrite":
        return list(payload)
    if op == "merge":
        src = dict(payload)
        # MERGE updates EVERY matched target row (source-side dups are
        # what aborts, not target-side); inserts cover unmatched pks
        out = [(pk, src[pk]) if pk in src else (pk, v) for pk, v in model_rows]
        existing = {pk for pk, _ in model_rows}
        out += [(pk, v) for pk, v in payload if pk not in existing]
        return out
    if op == "delete":
        return [(pk, v) for pk, v in model_rows if pk != payload]
    if op == "truncate":
        return []
    raise AssertionError(op)


@given(ops=op_sequence())
@SETTINGS
def test_txlog_matches_model_over_random_op_sequences(spark, tmp_path_factory, ops):
    from x_spark.sources.txlog import resolve_snapshot

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path_factory.mktemp("txprop") / "t"))
    schema = "pk int, v int"
    model: list = []
    history: dict[int, list] = {}

    ds.create(ref, spark.createDataFrame([], schema).schema)
    history[0] = []
    for op, payload in ops:
        if op == "append":
            ds.append(spark.createDataFrame(payload, schema), ref)
        elif op == "overwrite":
            ds.overwrite(spark.createDataFrame(payload, schema), ref)
        elif op == "merge":
            if not payload:
                continue  # empty-source merge: no commit guaranteed
            ds.merge(
                spark.createDataFrame(payload, schema),
                ref,
                MergeSpec(["pk"], ["v"], insert_when_not_matched=True),
            )
        elif op == "delete":
            ds.delete(ref, f"pk = {payload}")
        else:
            ds.truncate(ref)
        model = _model_apply(model, op, payload)
        # track the REAL committed version: a pruned zero-match DELETE
        # is a logical no-op (Delta's rule — no commit)
        history[resolve_snapshot(ref.path).version] = list(model)
        got = sorted(map(tuple, ds.read(ref).collect()))
        assert got == sorted(model), f"after {op}: {got} != {sorted(model)}"

    # every historical version still time-travels to its recorded state
    for v, expect in history.items():
        tt = TableRef(path=ref.path, options={"versionAsOf": str(v)})
        assert sorted(map(tuple, ds.read(tt).collect())) == sorted(expect), f"v{v}"

    # default vacuum (orphans only) never changes any readable version
    ds.vacuum(TableRef(path=ref.path))
    for v, expect in history.items():
        tt = TableRef(path=ref.path, options={"versionAsOf": str(v)})
        assert sorted(map(tuple, ds.read(tt).collect())) == sorted(expect)


def test_timestamp_travel_resolves_like_delta(spark, tmp_path):
    """Timestamp travel resolves by the IN-COMMIT timestamp (Delta
    ICT): mtime scrambling cannot move commit times."""
    import json
    import os
    import time

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "ts"))
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), ref)
    ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"), ref)
    log = os.path.join(ref.path, "_txlog")
    base = time.time() - 1000

    def set_ict(epoch_of):  # rewrite each commit's in-commit timestamp
        for fname in sorted(os.listdir(log)):
            if not fname.endswith(".json") or "checkpoint" in fname:
                continue
            v = int(fname.split(".")[0])
            path = os.path.join(log, fname)
            lines = []
            for line in open(path):
                a = json.loads(line)
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = int(
                        epoch_of(v) * 1000
                    )
                lines.append(json.dumps(a) + "\n")
            open(path, "w").write("".join(lines))

    set_ict(lambda v: base + 100 * v)  # 0=create, 1=append, 2=append
    # scramble mtimes to a single wrong instant: ICT must win
    for fname in os.listdir(log):
        os.utime(os.path.join(log, fname), (base + 9999, base + 9999))
    at = lambda epoch: TableRef(path=ref.path, options={"timestampAsOf": epoch})
    assert ds.read(at(base + 150)).count() == 1   # after v1, before v2
    assert ds.read(at(base + 250)).count() == 2   # after v2
    import pytest

    from x_spark.errors import DataSourceException

    with pytest.raises(DataSourceException, match="no commit"):
        ds.read(at(base - 1))

    # new commits stamp a MONOTONE ICT and history() surfaces it
    ds.append(spark.createDataFrame([(3, 30)], "pk int, v int"), ref)
    hist = ds.history(ref)
    assert hist[-1]["timestamp"] is not None
    stamped = [h["timestamp"] for h in hist if h["timestamp"] is not None]
    assert stamped == sorted(stamped)


def test_clean_log_bounds_history_preserving_replayability(
        spark, tmp_path, monkeypatch):
    """clean_log deletes commit files below the replay floor (the
    newest checkpoint keeping keep_last versions replayable); latest
    reads, time travel above the floor, txn replay detection, and CDF
    above the floor all survive; travel below raises the ordinary
    version error."""
    import os

    import pytest

    import x_spark.sources.txlog as T
    from x_spark.errors import DataSourceException
    from x_spark.sources.txlog import (
        TxnAlreadyCommittedException, _list_log, resolve_snapshot,
    )

    monkeypatch.setattr(T, "CHECKPOINT_INTERVAL", 3)
    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "cl"))
    for i in range(10):  # v1..v10; checkpoints at 3, 6, 9
        ds.append(
            spark.createDataFrame([(i, i * 10)], "pk int, v int"), ref,
            txn=("app", i),
        )
    commits_before, cks = _list_log(ref.path)
    assert [T._version_of(c) for c in cks] == [3, 6, 9]

    gone = ds.clean_log(ref, keep_last=3, min_age_sec=0)
    # floor = checkpoint 6 (latest 10 - keep 3 = 7 -> newest ck <= 7)
    commits, cks = _list_log(ref.path)
    assert [T._version_of(c) for c in commits] == [6, 7, 8, 9, 10]
    assert [T._version_of(c) for c in cks] == [6, 9]
    assert len(gone) == len(commits_before) - 5 + 1  # + checkpoint 3

    # latest state intact
    assert ds.read(ref).count() == 10
    assert ds.count_rows(ref) == 10
    # travel above the floor works; below raises the version error
    assert ds.read(TableRef(path=ref.path,
                            options={"versionAsOf": "7"})).count() == 7
    with pytest.raises(DataSourceException, match="does not exist"):
        resolve_snapshot(ref.path, 2)
    # CDF above the floor works
    assert ds.changes(ref, 8, 10).count() == 2
    # txn stamps survive through the floor checkpoint: replay detected
    with pytest.raises(TxnAlreadyCommittedException):
        ds.append(spark.createDataFrame([(99, 0)], "pk int, v int"), ref,
                  txn=("app", 5))
    # appends keep working, and a second clean converges
    ds.append(spark.createDataFrame([(11, 110)], "pk int, v int"), ref)
    assert ds.read(ref).count() == 11
    # retention guard: young files survive a guarded clean
    before = _list_log(ref.path)[0]
    assert ds.clean_log(ref, keep_last=0, min_age_sec=3600) == []
    assert _list_log(ref.path)[0] == before
    # vacuum after clean_log reaps files only pruned versions referenced
    ds.delete(ref, "pk = 0")
    ds.clean_log(ref, keep_last=0, min_age_sec=0)
    ds.vacuum(ref, min_age_sec=0)
    assert ds.read(ref).count() == 10
    assert os.path.isdir(ref.path)


def test_vacuum_dry_run_and_clone_at_timestamp(spark, tmp_path):
    import os

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "d"))
    ds.append(spark.createDataFrame([(1,)], "pk int"), ref)      # v1
    ds.append(spark.createDataFrame([(2,)], "pk int"), ref)      # v2
    ds.overwrite(spark.createDataFrame([(9,)], "pk int"), ref)   # v3

    # dry run reports exactly what a keep_last=1 vacuum would delete,
    # touches nothing; the real vacuum then deletes that same set
    would = ds.vacuum(ref, keep_last=1, min_age_sec=0, dry_run=True)
    assert would
    assert all(os.path.exists(os.path.join(ref.path, p)) for p in would)
    assert ds.vacuum(ref, keep_last=1, min_age_sec=0) == would
    assert not any(os.path.exists(os.path.join(ref.path, p))
                   for p in would)

    # clone addressed by commit timestamp (ICT resolution)
    src = TableRef(path=str(tmp_path / "s"))
    ds.append(spark.createDataFrame([(1,)], "pk int"), src)      # v1
    ds.append(spark.createDataFrame([(2,)], "pk int"), src)      # v2
    ict_v1 = next(h["timestamp"] for h in ds.history(src)
                  if h["version"] == 1)
    dst = TableRef(path=str(tmp_path / "c"))
    ds.clone(src, dst, timestamp=ict_v1 / 1000.0)
    assert sorted(r.pk for r in ds.read(dst).collect()) == [1]
    import pytest

    from x_spark.errors import DataSourceException

    with pytest.raises(DataSourceException, match="not both"):
        ds.clone(src, TableRef(path=str(tmp_path / "c2")),
                 version=1, timestamp=ict_v1 / 1000.0)


def test_restore_to_timestamp(spark, tmp_path):
    import datetime
    import uuid as _uuid

    import pytest

    from x_spark.errors import DataSourceException

    ds = init_datasource("txlog", spark)
    name = f"rts_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), ref)  # v1
    ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"), ref)  # v2
    try:
        hist = ds.history(ref)
        ict_v1 = next(h["timestamp"] for h in hist if h["version"] == 1)
        # epoch-seconds flavor: resolve to v1, restore, rows roll back
        new_v = ds.restore_to_timestamp(ref, ict_v1 / 1000.0)
        assert new_v == 3
        assert sorted(r.pk for r in ds.read(ref).collect()) == [1]
        # SQL flavors: VERSION AS OF forward again, TIMESTAMP AS OF back
        ds._execute_statement(
            f"RESTORE TABLE {name} TO VERSION AS OF 2"
        )
        assert sorted(r.pk for r in ds.read(ref).collect()) == [1, 2]
        iso = datetime.datetime.fromtimestamp(
            ict_v1 / 1000.0 + 0.0005
        ).isoformat()
        ds._execute_statement(
            f"RESTORE TABLE {name} TO TIMESTAMP AS OF '{iso}'"
        )
        assert sorted(r.pk for r in ds.read(ref).collect()) == [1]
        with pytest.raises(DataSourceException, match="no commit"):
            ds.restore_to_timestamp(ref, 1.0)  # before the table existed
    finally:
        ds.drop_table(ref)


# -- checkpoint compaction & vacuum under contention -------------------------
def _replay_without_checkpoints(table: str):
    """Snapshot file set from a pure commit-file replay (checkpoints
    temporarily hidden), to prove checkpoint-assisted resolution is a
    pure optimization."""
    import os

    from x_spark.sources.txlog import resolve_snapshot

    log = os.path.join(table, "_txlog")
    hidden = []
    for f in sorted(os.listdir(log)):
        if f.endswith(".checkpoint.json"):
            src = os.path.join(log, f)
            os.rename(src, src + ".hidden")
            hidden.append(src)
    try:
        return resolve_snapshot(table)
    finally:
        for src in hidden:
            os.rename(src + ".hidden", src)


def test_checkpoint_compaction_under_concurrent_appends(
    spark, tmp_path, monkeypatch
):
    """Checkpoints written while appenders race must neither lose
    commits nor double-apply: the version chain stays gap-free, every
    appended row is present exactly once, and a checkpoint-assisted
    snapshot equals the pure commit-file replay."""
    import os
    import threading

    from x_spark.sources import txlog as txmod
    from x_spark.sources.txlog import resolve_snapshot

    monkeypatch.setattr(txmod, "CHECKPOINT_INTERVAL", 5)
    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "ckpt_race"))
    ds.append(spark.createDataFrame([(0, -1)], "writer int, seq int"), ref)

    n_writers, n_appends = 4, 8
    errors = []

    def appender(w):
        try:
            for i in range(n_appends):
                ds.append(
                    spark.createDataFrame([(w, i)], "writer int, seq int"), ref
                )
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(w,)) for w in range(1, n_writers + 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # gap-free version chain
    log = os.path.join(ref.path, "_txlog")
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(log)
        if f.endswith(".json") and not f.endswith(".checkpoint.json")
    )
    assert versions == list(range(len(versions)))
    # checkpoints were actually written mid-race
    checkpoints = [f for f in os.listdir(log) if f.endswith(".checkpoint.json")]
    assert checkpoints, "no checkpoint written despite interval=5"
    # zero lost updates: every (writer, seq) exactly once
    rows = sorted(map(tuple, ds.read(ref).collect()))
    expect = sorted([(0, -1)] + [(w, i) for w in range(1, n_writers + 1)
                                 for i in range(n_appends)])
    assert rows == expect
    # checkpoint-assisted resolve == pure replay (same live file set)
    with_ck = resolve_snapshot(ref.path)
    without_ck = _replay_without_checkpoints(ref.path)
    assert with_ck.version == without_ck.version
    assert with_ck.files.keys() == without_ck.files.keys()


def test_vacuum_retention_protects_inflight_commit_files(spark, tmp_path):
    """A data file moved into place before its commit lands looks
    unreferenced; default vacuum must leave it alone (retention guard),
    while min_age_sec=0 (offline maintenance) removes it."""
    import os
    import shutil

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "vac_inflight"))
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), ref)
    live = next(iter(ds.read(ref).inputFiles()))
    inflight = os.path.join(ref.path, "part-inflight.parquet")
    shutil.copyfile(live.removeprefix("file:"), inflight)

    assert ds.vacuum(ref) == []          # young unreferenced file survives
    assert os.path.exists(inflight)
    assert ds.vacuum(ref, min_age_sec=0) == ["part-inflight.parquet"]
    assert not os.path.exists(inflight)


def test_vacuum_with_retention_never_loses_data_under_concurrent_appends(
    spark, tmp_path
):
    """Vacuum loops racing live appenders: with the default retention
    guard no committed row may disappear and every version stays
    readable afterwards."""
    import threading

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "vac_race"))
    ds.append(spark.createDataFrame([(0, -1)], "writer int, seq int"), ref)
    stop = threading.Event()
    errors = []

    def vacuumer():
        while not stop.is_set():
            try:
                deleted = ds.vacuum(ref)
                assert deleted == [], f"retention guard deleted {deleted}"
            except Exception as e:  # pragma: no cover
                errors.append(e)
                return

    def appender(w):
        try:
            for i in range(6):
                ds.append(
                    spark.createDataFrame([(w, i)], "writer int, seq int"), ref
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    vt = threading.Thread(target=vacuumer)
    vt.start()
    writers = [threading.Thread(target=appender, args=(w,)) for w in (1, 2)]
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    stop.set()
    vt.join()
    assert not errors, errors
    rows = sorted(map(tuple, ds.read(ref).collect()))
    assert rows == sorted([(0, -1)] + [(w, i) for w in (1, 2) for i in range(6)])
    # every historical version still resolves (vacuum default keeps all)
    from x_spark.sources.txlog import resolve_snapshot

    latest = resolve_snapshot(ref.path).version
    for v in range(latest + 1):
        ds.read(TableRef(path=ref.path, options={"versionAsOf": str(v)})).collect()


def test_vacuum_respects_checkpoint_horizon(spark, tmp_path, monkeypatch):
    """keep_last vacuum after checkpoints: recent versions (including
    checkpoint-resolved reads) stay intact, older time travel fails
    with the documented missing-file error."""
    import pytest as _pytest

    from x_spark.sources import txlog as txmod

    monkeypatch.setattr(txmod, "CHECKPOINT_INTERVAL", 5)
    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "vac_horizon"))
    for i in range(12):
        ds.overwrite(spark.createDataFrame([(i, i * 10)], "pk int, v int"), ref)
    ds.vacuum(ref, keep_last=3, min_age_sec=0)
    from x_spark.sources.txlog import resolve_snapshot

    latest = resolve_snapshot(ref.path).version
    for v in range(latest - 2, latest + 1):
        got = ds.read(
            TableRef(path=ref.path, options={"versionAsOf": str(v)})
        ).collect()
        assert len(got) == 1
    with _pytest.raises(Exception):
        ds.read(
            TableRef(path=ref.path, options={"versionAsOf": str(latest - 5)})
        ).collect()


@given(ops=op_sequence())
@SETTINGS
def test_clone_and_manifest_pin_their_snapshot_under_any_op_sequence(
    spark, tmp_path_factory, ops
):
    """CLONE and the export manifest are point-in-time: whatever random
    op sequence runs AFTER they are taken, (a) the manifest file list
    still reconstructs exactly the pinned rows via a plain parquet
    read — UP TO the documented vacuum horizon (an aggressive
    keep_last vacuum deletes old-version files, which is exactly the
    caveat generate_manifest's docstring states), (b) the clone still
    reads the pinned state even AFTER that aggressive source vacuum
    (hardlinks keep the inodes alive — the stronger guarantee), and
    (c) a clone taken at the end equals the final source state."""
    import duckdb

    ds = init_datasource("txlog", spark)
    base = tmp_path_factory.mktemp("cmprop")
    ref = TableRef(path=str(base / "t"))
    schema = "pk int, v int"
    ds.create(ref, spark.createDataFrame([], schema).schema)
    ds.append(spark.createDataFrame([(0, 0), (1, 1)], schema), ref)
    pinned = sorted(map(tuple, ds.read(ref).collect()))

    clone_ref = TableRef(path=str(base / "clone_early"))
    ds.clone(ref, clone_ref)
    manifest = ds.generate_manifest(ref)
    with open(manifest) as fh:
        pinned_files = [ln.strip() for ln in fh if ln.strip()]

    model = list(pinned)
    for op, payload in ops:
        if op == "append":
            ds.append(spark.createDataFrame(payload, schema), ref)
        elif op == "overwrite":
            ds.overwrite(spark.createDataFrame(payload, schema), ref)
        elif op == "merge":
            if not payload:
                continue
            ds.merge(
                spark.createDataFrame(payload, schema),
                ref,
                MergeSpec(["pk"], ["v"], insert_when_not_matched=True),
            )
        elif op == "delete":
            ds.delete(ref, f"pk = {payload}")
        else:
            ds.truncate(ref)
        model = _model_apply(model, op, payload)

    # (a) BEFORE any vacuum: the manifest reconstructs the pinned rows
    # externally, regardless of the op sequence that ran since
    if pinned_files:
        con = duckdb.connect()
        got = sorted(con.sql(
            "SELECT pk, v FROM read_parquet($f)", params={"f": pinned_files}
        ).fetchall())
        con.close()
        assert got == pinned

    ds.vacuum(ref, keep_last=1, min_age_sec=0)  # aggressive source vacuum

    # (b) the early clone still reads the pinned state even now —
    # the manifest's files may be gone, the clone's hardlinks are not
    assert sorted(map(tuple, ds.read(clone_ref).collect())) == pinned
    # (c) a fresh clone equals the final source state
    final_ref = TableRef(path=str(base / "clone_final"))
    ds.clone(ref, final_ref)
    assert sorted(map(tuple, ds.read(final_ref).collect())) == sorted(model)


@st.composite
def cdf_op_sequence(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    ops = []
    for _ in range(n):
        kind = draw(st.sampled_from(["append", "overwrite", "merge",
                                     "delete", "update", "optimize",
                                     "cluster"]))
        if kind in ("append", "overwrite", "merge"):
            ops.append((kind, draw(rows_strategy)))
        elif kind == "delete":
            ops.append((kind, draw(keys)))
        elif kind == "update":
            ops.append((kind, (draw(keys), draw(vals))))
        else:
            ops.append((kind, None))  # logically-no-op maintenance
    return ops


@given(ops=cdf_op_sequence(), dv=st.booleans(), rt=st.booleans())
@SETTINGS
def test_cdf_folds_to_snapshot_diff_over_random_sequences(
        spark, tmp_path_factory, ops, dv, rt):
    """The change feed is CONSERVATIVE over any operation sequence:
    folding it (+1 insert/update_postimage, -1 delete/update_preimage)
    between two versions must equal the signed multiset difference of
    the two snapshots — with cdc-served commits (CDF property on,
    UPDATE/MERGE/CoW-DELETE write 4-type rows) and derived commits
    mixed freely, on both the copy-on-write and deletion-vector
    engines. ``rt=True`` runs the same sequences WITHOUT the CDF
    property on a row-tracking table, so every rewrite commit takes
    the derived ROW-ID-PAIRED path (or its DV fallback) — the pairing
    must preserve the fold multiset exactly. This is the invariant
    IVM correctness stands on."""
    from collections import Counter

    from x_spark.sources.txlog import (
        CDF_ENABLE_KEY, DV_ENABLE_KEY, ROW_TRACKING_KEY, resolve_snapshot,
    )

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path_factory.mktemp("cdfprop") / "t"))
    schema = "pk int, v int"
    ds.create(ref, spark.createDataFrame([], schema).schema)
    props = ({ROW_TRACKING_KEY: "true"} if rt
             else {CDF_ENABLE_KEY: "true"})
    if dv:
        props[DV_ENABLE_KEY] = "true"
    ds.set_properties(ref, props)

    model: list = []
    states: dict[int, list] = {resolve_snapshot(ref.path).version: []}
    for op, payload in ops:
        if op == "append":
            ds.append(spark.createDataFrame(payload, schema), ref)
            model = model + list(payload)
        elif op == "overwrite":
            ds.overwrite(spark.createDataFrame(payload, schema), ref)
            model = list(payload)
        elif op == "merge":
            if not payload:
                continue
            ds.merge(spark.createDataFrame(payload, schema), ref,
                     MergeSpec(["pk"], ["v"], insert_when_not_matched=True))
            src = dict(payload)
            existing = {pk for pk, _ in model}
            model = [(pk, src[pk]) if pk in src else (pk, v)
                     for pk, v in model]
            model += [(pk, v) for pk, v in payload if pk not in existing]
        elif op == "delete":
            ds.delete(ref, f"pk = {payload}")
            model = [(pk, v) for pk, v in model if pk != payload]
        elif op == "update":
            k, d = payload
            ds.update(ref, {"v": f"v + {d}"}, f"pk = {k}")
            model = [(pk, v + d if pk == k else v) for pk, v in model]
        elif op == "optimize":
            # dataChange=false maintenance: the feed must stay EMPTY
            # for this commit and the fold unchanged (may be a no-op
            # commit-wise when too few small files)
            ds.optimize(ref, min_files=2)
        else:
            if resolve_snapshot(ref.path).files:
                ds.cluster(ref, ["pk"], target_files=2)
        states[resolve_snapshot(ref.path).version] = list(model)

    versions = sorted(states)
    pairs = [(versions[0], versions[-1])]
    if len(versions) > 2:
        pairs.append((versions[len(versions) // 2], versions[-1]))
        pairs.append((versions[0], versions[len(versions) // 2]))
    for va, vb in pairs:
        want = Counter(map(tuple, states[vb]))
        want.subtract(Counter(map(tuple, states[va])))
        want = {k: n for k, n in want.items() if n != 0}
        got = {
            (r.pk, r.v): r.net
            for r in ds.semantic_diff(ref, va, vb).collect()
        }
        assert got == want, f"({va},{vb}): {got} != {want}"
