"""Spark Python DataSource for txlog tables: native
``spark.read.format("txlog")`` and ``spark.readStream.format("txlog")``.

Built on Spark 4's Python DataSource API (SPARK-44076) — the idiomatic
way to surface a custom table format to every Spark consumer (SQL,
DataFrames, Structured Streaming) without JVM code:

- **Batch reads** resolve a snapshot once (same isolation guarantee as
  the connector), expose ONE input partition per live data file, and
  ship Arrow record batches zero-copy from the parquet reader.
- **Filter pushdown** (``pushFilters``): equality filters on partition
  columns prune files before any is opened; all other filters are
  returned to Spark to evaluate (footer-stat skipping for
  non-partition columns stays on the connector's merge/delete paths).
- **Streaming reads** treat the transaction log as the offset axis —
  an offset IS a version number. Each micro-batch reads the files
  ADDED in ``(start_version, end_version]``; append-only tables stream
  exactly their inserts (the CDF insert stream). Commits that remove
  files (merge/delete/overwrite rewrites) abort by default, matching
  streaming-source semantics for non-append tables; pass
  ``ignoreChanges=true`` to stream the re-added file contents instead.

Usage::

    spark.dataSource.register(TxLogSparkDataSource)
    spark.read.format("txlog").option("path", p).load()
    spark.read.format("txlog").option("path", p).option("versionAsOf", 3).load()
    spark.readStream.format("txlog").option("path", p).load()
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from x_spark.errors import DataSourceException


class _FilePartition(InputPartition):
    def __init__(self, table: str, rel: str, partition_values: dict,
                 dv: dict | None = None):
        self.table = table
        self.rel = rel
        self.partition_values = partition_values
        self.dv = dv  # deletion-vector ref from the add action, if any


def _masked_row_indexes(table: str, rel: str, dv: dict | None):
    """This file's deletion-vector row indexes as a sorted numpy array
    (None when unmasked). Executor-side pyarrow read of the referenced
    sidecar directory, filtered to THIS file's REL PATH (the per-file
    identity key — basenames can collide in adopted layouts) — the
    same per-sidecar scoping rule as the connector reader."""
    if not dv:
        return None
    import numpy as np
    import pyarrow.parquet as pq

    base = rel
    idx: list = []
    dv_dir = os.path.join(table, dv["path"])
    for root, _dirs, names in os.walk(dv_dir):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            # filter pushed into the read: row groups whose file_name
            # stats exclude `base` are never decoded, so per-partition
            # cost tracks THIS file's mask rows, not the whole sidecar
            t = pq.read_table(
                os.path.join(root, name), columns=["row_index"],
                filters=[("file_name", "==", base)],
            )
            idx.extend(t.column("row_index").to_pylist())
    return np.sort(np.asarray(idx, dtype="int64")) if idx else None


def _read_file_batches(table: str, rel: str, partition_values: dict, schema,
                       dv: dict | None = None, keep_indexes=None):
    """Arrow record batches for one data file, with hive partition
    columns re-attached as constant columns in declared schema order
    and deletion-vector rows dropped (row ordinals are stable per
    parquet file — the same contract ``_metadata.row_index`` gives the
    JVM reader). ``keep_indexes`` INVERTS the selection mode: only the
    given row ordinals are emitted (the change-feed mask-delta path);
    mutually exclusive with ``dv``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute  # noqa: F401
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from x_spark.sources.txlog import _physical_map

    arrow_schema = to_arrow_schema(schema)
    # column mapping: files store stable PHYSICAL names — bind each
    # logical field to its physical column (identity when unmapped);
    # a file predating the column's ADD simply lacks it -> NULL fill
    phys = _physical_map(schema)
    masked = _masked_row_indexes(table, rel, dv)
    pf = pq.ParquetFile(os.path.join(table, rel))
    offset = 0
    for batch in pf.iter_batches():
        n = batch.num_rows
        if keep_indexes is not None:
            keep = np.isin(np.arange(offset, offset + n),
                           np.asarray(keep_indexes, dtype="int64"))
            offset += n
            if not keep.any():
                continue
            batch = batch.filter(pa.array(keep))
        elif masked is not None:
            keep = ~np.isin(np.arange(offset, offset + n), masked,
                            assume_unique=True)
            offset += n
            if not keep.any():
                continue
            batch = batch.filter(pa.array(keep))
        cols = []
        for field in arrow_schema:
            pname = phys.get(field.name, field.name)
            if pname in batch.schema.names:
                cols.append(batch.column(pname).cast(field.type))
            else:
                v = partition_values.get(pname)  # pv keys are PHYSICAL
                str_arr = pa.array([v] * batch.num_rows, type=pa.string())
                cols.append(str_arr.cast(field.type))
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


class TxLogBatchReader(DataSourceReader):
    def __init__(self, table: str, schema, version, prune: bool = False):
        from x_spark.sources.txlog import resolve_snapshot

        self.table = table
        self.schema = schema
        snap = resolve_snapshot(table, version)
        if snap is None:
            raise DataSourceException(f"txlog table {table!r} does not exist")
        self.snap = snap
        self.prune = prune
        self._pruned: set[str] | None = None

    def pushFilters(self, filters):
        """Prune files by EqualTo/IsNull on partition columns; every
        filter is also returned to Spark (we prune, Spark still
        evaluates — required for correctness on partial pruning).

        Pruning is OPT-IN (``option("filePruning", "true")``) because
        Spark 4.1 caches the post-pushdown partition list on the shared
        ``PythonDataSourceV2`` provider (``setReadInfo`` /
        ``getOrCreateReadInfo`` return the cached value unconditionally)
        — so with one loaded DataFrame reused across queries, a
        filtered scan's pruned file list would silently DROP ROWS from
        a later filterless scan. Safe only in load-per-query patterns;
        default off, correctness over pruning."""
        if not self.prune:
            return filters
        from x_spark.sources.txlog import _physical_map

        part_cols = set(self.snap.partition_cols)
        phys = _physical_map(self.snap.schema)  # pv keys are PHYSICAL
        constraints: dict[str, object] = {}
        for f in filters:
            name = type(f).__name__
            col = getattr(f, "attribute", None)
            col = col[0] if isinstance(col, (list, tuple)) else col
            if name == "EqualTo" and col in part_cols:
                constraints[phys.get(col, col)] = str(f.value)
            elif name == "IsNull" and col in part_cols:
                constraints[phys.get(col, col)] = None
        if constraints:
            keep = set()
            for rel, add in self.snap.files.items():
                pv = add.get("partitionValues") or {}
                if all(pv.get(c) == v for c, v in constraints.items()):
                    keep.add(rel)
            self._pruned = keep
        return filters  # Spark re-evaluates everything

    def partitions(self):
        # consume-and-clear: the reader instance OUTLIVES one query (it
        # is embedded in the loaded DataFrame's relation), so pruning
        # set by THIS scan's pushFilters must not leak into a later
        # scan that pushed no filters — that would silently drop rows.
        # Clearing errs toward returning MORE files, which is always
        # correct: every filter is also returned to Spark above, so
        # rows are re-filtered either way.
        pruned, self._pruned = self._pruned, None
        rels = sorted(self.snap.files if pruned is None else pruned)
        return [
            _FilePartition(
                self.table, rel,
                self.snap.files[rel].get("partitionValues") or {},
                self.snap.files[rel].get("dv"),
            )
            for rel in rels
        ]

    def read(self, partition: _FilePartition):
        yield from _read_file_batches(
            partition.table, partition.rel, partition.partition_values,
            self.schema, partition.dv,
        )


class _CDFPartition(InputPartition):
    """One change-feed work unit. ``mode="rows"``: emit the file's live
    rows (minus ``dv``) stamped ``kind``. ``mode="mask_delta"``: emit
    only the rows whose ordinal is in (``dv`` minus ``dv_old``) — the
    deletion-vector re-point delta, computed executor-side.
    ``mode="cdc"`` (``kind=None``): the file is a ``_change_data``
    parquet whose rows carry their OWN ``_change_type`` — Delta's
    4-type contract, written by UPDATE/MERGE/CoW-DELETE under
    ``enableChangeDataFeed``."""

    def __init__(self, table: str, rel: str, partition_values: dict,
                 version: int, kind: str | None, dv: dict | None = None,
                 dv_old: dict | None = None, mode: str = "rows"):
        self.table = table
        self.rel = rel
        self.partition_values = dict(partition_values)
        if kind is not None:
            self.partition_values["_change_type"] = kind
        self.partition_values["_commit_version"] = str(version)
        self.dv = dv
        self.dv_old = dv_old
        self.mode = mode


def _cdf_partitions(table: str, base_v: int,
                    to_version: int | None) -> list:
    """Change-feed work units for commits in (base_v, to_version]
    (to_version None = latest). Driver-side metadata-only commit walk
    shared by the batch reader and the streaming CDF reader; one
    partition per touched file per commit — cost tracks the CHURN in
    the interval, never the table. Deletion-vector re-points become
    mask-delta partitions in both directions (same rule as the
    connector's ``changes``)."""
    from x_spark.sources.txlog import (
        _list_log, _version_of, iter_commit_actions, resolve_snapshot,
    )

    base = resolve_snapshot(table, base_v) if base_v >= 0 else None
    live: dict[str, dict] = dict(base.files) if base else {}
    commits, _ = _list_log(table)
    to = (to_version if to_version is not None
          else (_version_of(commits[-1]) if commits else 0))
    parts: list[_CDFPartition] = []
    for fname in commits:
        v = _version_of(fname)
        if v <= base_v or v > to:
            continue
        added: dict[str, dict] = {}
        removed: dict[str, dict] = {}
        cdc_paths: list[str] = []
        # iter_commit_actions expands addBatch parquet references
        for action in iter_commit_actions(table, fname):
            if "add" in action:
                a = action["add"]
                live[a["path"]] = a
                # dataChange=false: live bookkeeping only
                if a.get("dataChange", True):
                    added[a["path"]] = a
            elif "remove" in action:
                popped = live.pop(action["remove"]["path"], None)
                if popped is not None and action["remove"].get(
                        "dataChange", True):
                    removed[action["remove"]["path"]] = popped
            elif "cdc" in action:
                cdc_paths.append(
                    (action["cdc"]["path"],
                     action["cdc"]["partitionValues"])
                )
        if cdc_paths:
            # a commit carrying cdc actions is served FROM them (the
            # same rule as the connector's changes()): row-exact 4-type
            # change rows, no add/remove derivation for this commit
            # partition values (hive-partitioned _change_data) ride the
            # action; _read_file_batches re-attaches them as constants
            parts.extend(
                _CDFPartition(table, p, pv, v, None, mode="cdc")
                for p, pv in cdc_paths
            )
            continue
        for p in added:
            if p in removed:
                continue
            a = added[p]
            parts.append(_CDFPartition(
                table, p, a.get("partitionValues") or {}, v,
                "insert", dv=a.get("dv"),
            ))
        for p in removed:
            if p in added:
                continue
            a = removed[p]  # carries the mask AT REMOVAL TIME
            parts.append(_CDFPartition(
                table, p, a.get("partitionValues") or {}, v,
                "delete", dv=a.get("dv"),
            ))
        for p in added:
            if p not in removed or added[p] == removed[p]:
                continue
            old_dv = removed[p].get("dv")
            new_dv = added[p].get("dv")
            if old_dv == new_dv:
                continue  # re-assert with no mask change: no rows
            pv = added[p].get("partitionValues") or {}
            parts.append(_CDFPartition(          # newly masked
                table, p, pv, v, "delete",
                dv=new_dv, dv_old=old_dv, mode="mask_delta",
            ))
            parts.append(_CDFPartition(          # newly unmasked
                table, p, pv, v, "insert",
                dv=old_dv, dv_old=new_dv, mode="mask_delta",
            ))
    return parts


def _read_cdf_partition(partition, schema):
    if partition is None:
        return iter(())
    if partition.mode == "cdc":
        # _change_type comes from the file itself; _commit_version is
        # the partition constant
        return _read_file_batches(
            partition.table, partition.rel, partition.partition_values,
            schema,
        )
    if partition.mode == "mask_delta":
        import numpy as np

        empty = np.empty(0, dtype="int64")
        new = _masked_row_indexes(partition.table, partition.rel,
                                  partition.dv)
        old = _masked_row_indexes(partition.table, partition.rel,
                                  partition.dv_old)
        keep = np.setdiff1d(new if new is not None else empty,
                            old if old is not None else empty)
        if keep.size == 0:
            return iter(())
        return _read_file_batches(
            partition.table, partition.rel, partition.partition_values,
            schema, keep_indexes=keep,
        )
    return _read_file_batches(
        partition.table, partition.rel, partition.partition_values,
        schema, dv=partition.dv,
    )


class TxLogChangeFeedReader(DataSourceReader):
    """Batch CDF (Delta's ``readChangeFeed``): rows changed in
    [startingVersion, endingVersion (default latest)] with
    ``_change_type`` / ``_commit_version`` attached. The commit walk is
    driver-side metadata only; row work is one partition per touched
    file per commit — cost tracks the CHURN in the interval, never the
    table. Deletion-vector re-points emit exactly the mask delta in
    both directions (same rule as the connector's ``changes``)."""

    def __init__(self, table: str, schema, options):
        from x_spark.sources.txlog import resolve_snapshot

        self.table = table
        self.schema = schema
        start = options.get("startingVersion")
        if start is None:
            raise DataSourceException(
                "readChangeFeed requires option 'startingVersion' "
                "(inclusive, Delta convention)"
            )
        self.from_version = int(start)
        end = options.get("endingVersion")
        self.to_version = int(end) if end is not None else None
        if resolve_snapshot(table) is None:
            raise DataSourceException(f"txlog table {table!r} does not exist")

    def partitions(self):
        # an interval with no row changes is an EMPTY batch relation:
        # return [] (pyspark's planner rejects a bare None here; the
        # worker converts an empty list itself)
        return _cdf_partitions(self.table, self.from_version - 1,
                               self.to_version)

    def read(self, partition):
        return _read_cdf_partition(partition, self.schema)


class TxLogStreamReader(DataSourceStreamReader):
    """Versions are offsets: micro-batch (start, end] reads the files
    those commits added.

    Admission control (Delta's maxFilesPerTrigger /
    DataStreamReader rate limits): ``maxFilesPerTrigger`` caps how many
    ADD actions one micro-batch admits, ``maxBytesPerTrigger`` caps
    their published byte size (add.size), ``maxVersionsPerTrigger``
    caps commits — all advance the end offset only to a COMMIT boundary
    (a version is never split, so each batch is still an exact log
    slice) and always admit at least one version (progress guarantee).
    Without a cap, a stream starting against a 100-TB backlog would
    plan the whole history as one micro-batch.

    One documented exception: the FIRST ``latestOffset()`` after reader
    construction is served uncapped. The Python DataSource streaming
    protocol (python_streaming_source_runner: latestOffset takes no
    arguments) never tells the reader the engine's committed offset —
    unlike the JVM ``SupportsAdmissionControl.latestOffset(start,
    limit)`` Delta implements — so on a query restart whose batches are
    all committed, the engine's first call is latestOffset() on a fresh
    reader and capping from the startingVersion cursor could return an
    offset BELOW the checkpointed one. Spark would log that regressed
    offset and re-plan processed versions as duplicates. Returning the
    true latest can never regress; the next partitions()/commit() call
    carries the engine's real frontier and anchors the cursor, and
    every subsequent trigger is rate-limited. Exactly-once beats
    admission control for that single trigger."""

    def __init__(self, table: str, schema, options):
        from x_spark.sources.txlog import resolve_snapshot

        self.table = table
        self.schema = schema
        self.ignore_changes = str(options.get("ignoreChanges", "false")).lower() == "true"
        # streaming CDF (Delta's readChangeFeed on readStream): each
        # micro-batch emits the (start, end] interval's CHANGE rows
        # (_change_type/_commit_version) instead of add-only file
        # scans — rewrites and DV mask deltas stream as
        # deletes/inserts, so no abort-on-rewrite guard applies
        self.cdf = str(options.get("readChangeFeed", "false")).lower() == "true"
        snap = resolve_snapshot(table)
        if snap is None:
            raise DataSourceException(f"txlog table {table!r} does not exist")
        start = options.get("startingVersion")
        self._initial = int(start) if start is not None else 0

        def _cap(key):
            v = options.get(key)
            if v is None:
                return None
            n = int(v)
            if n <= 0:
                raise DataSourceException(f"{key} must be >= 1, got {n}")
            return n

        self.max_files = _cap("maxFilesPerTrigger")
        self.max_versions = _cap("maxVersionsPerTrigger")

        def _byte_cap(key):
            v = options.get(key)
            if v is None:
                return None
            # Delta accepts size strings ('10g'); mirror that shape
            m = re.fullmatch(r"\s*(\d+)\s*([kKmMgG]?)[bB]?\s*", str(v))
            if not m:
                raise DataSourceException(
                    f"{key} must be a byte count or size string "
                    f"(e.g. 1048576, '10m', '1g'), got {v!r}"
                )
            n = int(m.group(1)) << {"": 0, "k": 10, "m": 20,
                                    "g": 30}[m.group(2).lower()]
            if n <= 0:
                raise DataSourceException(f"{key} must be >= 1, got {v!r}")
            return n

        self.max_bytes = _byte_cap("maxBytesPerTrigger")
        # admission cursor: the highest end offset this reader already
        # handed out (or replayed) — capping below never regresses it
        self._pos = self._initial
        # The cursor starts UNANCHORED: after a query restart the engine
        # restores the committed offset from its own checkpoint and the
        # first call on the fresh reader may be latestOffset() — before
        # any initialOffset()/partitions()/commit() has told us where
        # the stream actually is. Capping from the unanchored _pos
        # (startingVersion, often 0) could return an end offset BELOW
        # the checkpointed committed offset; Spark would log that
        # regressed offset and re-plan already-processed versions as
        # duplicates, breaking exactly-once. Until anchored, a capped
        # latestOffset() therefore returns the true uncapped latest
        # (never regresses); the very next partitions() call carries the
        # engine's real start offset and anchors the cursor, so every
        # subsequent trigger is rate-limited again.
        self._anchored = False
        # per-version admitted (file count, byte size) tuples, filled
        # lazily; a version's log file is immutable once written, so
        # each is parsed at most once per reader instead of once per
        # trigger while a large backlog drains
        self._add_counts: dict[int, tuple[int, int]] = {}
        # Opt-in PERSISTED admission cursor (the Python stream-reader
        # protocol never hands the reader its checkpoint location, so
        # the caller names the stream instead): with
        # option("streamId", ...) the handed-out frontier survives
        # restarts in <table>/_streams/<id>.json. Without it, a
        # restarted stream whose batches were all committed serves its
        # FIRST latestOffset() uncapped (see _anchored above) — i.e.
        # the entire remaining backlog as one micro-batch. The sidecar
        # may run AHEAD of the engine's committed offset (crash between
        # hand-out and checkpoint); that only widens the first batch to
        # at most one previously-planned batch plus one cap, never
        # regresses below the committed offset (the engine replays its
        # own offset log first).
        sid = options.get("streamId")
        self._cursor_file = None
        if sid is not None:
            if not re.fullmatch(r"[\w.-]{1,128}", str(sid)):
                raise DataSourceException(
                    f"streamId must be a short [word.-] token, got {sid!r}"
                )
            self._cursor_file = os.path.join(table, "_streams",
                                             f"{sid}.json")
            try:
                with open(self._cursor_file) as fh:
                    saved = int(json.load(fh)["pos"])
                self._pos = max(self._pos, saved)
                self._anchored = True
            except (OSError, ValueError, KeyError):
                pass  # first run (or unreadable sidecar): stay unanchored

    def _persist_cursor(self) -> None:
        if self._cursor_file is None:
            return
        import uuid as _uuid

        os.makedirs(os.path.dirname(self._cursor_file), exist_ok=True)
        tmp = f"{self._cursor_file}.tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"pos": self._pos}, fh)
        os.replace(tmp, self._cursor_file)

    def initialOffset(self) -> dict:
        # only called when NO checkpoint exists — a fresh start, where
        # startingVersion IS the committed frontier. A streamId sidecar
        # from an earlier (deleted/relocated) checkpoint is STALE here:
        # honoring it would make the first capped batch skip straight
        # past startingVersion to the old frontier — reset it.
        self._pos = self._initial
        self._anchored = True
        self._persist_cursor()
        return {"version": self._initial}

    def _admitted_adds(self, fname: str, v: int) -> tuple[int, int]:
        """(file count, byte size) version ``v`` admits toward
        maxFilesPerTrigger / maxBytesPerTrigger, excluding re-adds of
        paths the SAME commit removes (deletion-vector re-points /
        metadata rewrites) and dataChange=false maintenance — those
        carry no new rows, and counting them would shrink effective
        batch sizes. Cached: the per-version log is immutable."""
        from x_spark.sources.txlog import iter_commit_actions

        cached = self._add_counts.get(v)
        if cached is not None:
            return cached
        added: dict[str, int] = {}
        removed: set[str] = set()
        # iter_commit_actions expands addBatch parquet references
        # (large commits) back into their add actions
        for action in iter_commit_actions(self.table, fname):
            if "add" in action:
                if action["add"].get("dataChange", True):
                    added[action["add"]["path"]] = \
                        int(action["add"]["size"])
            elif "remove" in action:
                removed.add(action["remove"]["path"])
        live = [sz for p, sz in added.items() if p not in removed]
        out = (len(live), sum(live))
        self._add_counts[v] = out
        return out

    def latestOffset(self) -> dict:
        from x_spark.sources.txlog import _list_log, _version_of

        commits, _ = _list_log(self.table)
        latest = _version_of(commits[-1]) if commits else 0
        uncapped = (self.max_files is None and self.max_versions is None
                    and self.max_bytes is None)
        if uncapped or not self._anchored or latest <= self._pos:
            self._pos = max(self._pos, latest)
            # serving the true latest can never regress the committed
            # offset, so the cursor is anchored from here on
            self._anchored = True
            self._persist_cursor()
            return {"version": latest}
        admitted = 0
        files = 0
        size = 0
        end = self._pos
        for fname in commits:
            v = _version_of(fname)
            if v <= self._pos:
                continue
            admitted += 1
            n, b = self._admitted_adds(fname, v)
            files += n
            size += b
            end = v
            if self.max_versions is not None and admitted >= self.max_versions:
                break
            if self.max_files is not None and files >= self.max_files:
                break
            if self.max_bytes is not None and size >= self.max_bytes:
                break
        self._pos = end
        self._persist_cursor()
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        from x_spark.sources.txlog import (
            _list_log, _version_of, iter_commit_actions,
        )

        if self.cdf:
            self._pos = max(self._pos, end["version"])
            self._anchored = True
            return _cdf_partitions(self.table, start["version"],
                                   end["version"]) or [None]
        commits, _ = _list_log(self.table)
        parts = []
        for fname in commits:
            v = _version_of(fname)
            if v <= start["version"] or v > end["version"]:
                continue
            # iter_commit_actions expands addBatch parquet references
            for action in iter_commit_actions(self.table, fname):
                if ("remove" in action and not self.ignore_changes
                        and action["remove"].get("dataChange", True)):
                    raise DataSourceException(
                        f"txlog stream over {self.table!r}: version {v} "
                        "rewrites data (merge/delete/overwrite); streaming "
                        "supports append-only tables — set "
                        "ignoreChanges=true to stream re-added files"
                    )
                if "add" in action and action["add"].get(
                        "dataChange", True):
                    parts.append(
                        _FilePartition(
                            self.table,
                            action["add"]["path"],
                            action["add"].get("partitionValues") or {},
                            action["add"].get("dv"),
                        )
                    )
        # a replayed checkpointed batch may run before any latestOffset
        # call — keep the admission cursor ahead of everything served
        self._pos = max(self._pos, end["version"])
        self._anchored = True
        return parts or [None]  # Spark requires >=1 partition per batch

    def read(self, partition):
        if partition is None:
            return iter(())
        if isinstance(partition, _CDFPartition):
            return _read_cdf_partition(partition, self.schema)
        return _read_file_batches(
            partition.table, partition.rel, partition.partition_values,
            self.schema, partition.dv,
        )

    def commit(self, end: dict) -> None:
        # a committed offset is a hard floor for the admission cursor,
        # and versions at or below it can never be re-counted — drop
        # their cached add counts so a long-running stream's cache
        # tracks the open backlog, not the whole history
        self._pos = max(self._pos, end["version"])
        self._anchored = True
        for v in [v for v in self._add_counts if v <= end["version"]]:
            del self._add_counts[v]

    def stop(self) -> None:
        pass


class TxLogSparkDataSource(DataSource):
    """``format("txlog")`` — options: ``path`` (required),
    ``versionAsOf`` / ``filePruning`` (batch),
    ``readChangeFeed`` + ``startingVersion``/``endingVersion``
    (batch CDF),
    ``startingVersion`` / ``ignoreChanges`` / ``maxFilesPerTrigger`` /
    ``maxVersionsPerTrigger`` / ``maxBytesPerTrigger`` / ``streamId``
    (streaming; ``streamId`` persists the admission cursor across
    restarts so the first post-restart batch stays rate-limited)."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def _table(self) -> str:
        path = self.options.get("path")
        if not path:
            raise DataSourceException("txlog datasource requires option 'path'")
        return path

    def _cdf(self) -> bool:
        return str(self.options.get("readChangeFeed", "false")).lower() == "true"

    def schema(self):
        from pyspark.sql.types import LongType, StringType, StructField

        from x_spark.sources.txlog import resolve_snapshot

        snap = resolve_snapshot(self._table())
        if snap is None:
            raise DataSourceException(
                f"txlog table {self._table()!r} does not exist"
            )
        if self._cdf():
            return type(snap.schema)(
                list(snap.schema.fields)
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType())]
            )
        return snap.schema

    def reader(self, schema):
        if self._cdf():
            return TxLogChangeFeedReader(self._table(), schema, self.options)
        v = self.options.get("versionAsOf")
        prune = str(self.options.get("filePruning", "false")).lower() == "true"
        return TxLogBatchReader(
            self._table(), schema, int(v) if v is not None else None,
            prune=prune,
        )

    def streamReader(self, schema) -> TxLogStreamReader:
        return TxLogStreamReader(self._table(), schema, self.options)
