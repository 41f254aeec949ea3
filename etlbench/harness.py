"""Op execution: staging, timing, per-op bookkeeping and tracing.

Every unit of work — a set-up job, a warm-up op or a measured op —
runs through :meth:`Env.execute`. Only the engine call itself sits
inside the timer; staging the source files, listing the table
directory and reading Spark's status store happen outside it.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from etlbench.opgen import Op
from etlbench.trace import JobStats, SparkProbe, Tracer

TEMPLATES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "templates")
LOG_DIR = "_txlog"


def cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of this process plus ``root_pid`` and
    all of its descendants (the JVM and Spark's Python workers)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while listing
            continue
        # after the command name: [1] parent pid, [11] utime, [12] stime
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = int(fields[11]) + int(fields[12])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def template(name: str) -> str:
    return os.path.join(TEMPLATES, f"{name}.yml")


def dir_state(path: str) -> dict[str, int]:
    """Relative path -> size of every file under ``path``."""
    out: dict[str, int] = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except FileNotFoundError:
                pass
    return out


@dataclass
class CommitStats:
    """What one write op left under its table directory."""

    commits: int = 0
    log_files: int = 0
    checkpoints: int = 0
    data_files: int = 0
    data_bytes: int = 0
    added_bytes: int = 0
    files_removed: int = 0


def commit_stats(table_dir: str, before: dict[str, int],
                 after: dict[str, int]) -> CommitStats:
    """Diff two directory states; removed files are counted from the
    ``remove`` actions of the new commit files."""
    st = CommitStats()
    for rel in after.keys() - before.keys():
        size = after[rel]
        st.added_bytes += size
        if rel.split(os.sep, 1)[0] == LOG_DIR:
            st.log_files += 1
            name = os.path.basename(rel)
            if name.endswith(".checkpoint.json"):
                st.checkpoints += 1
            elif name.endswith(".json") and name.split(".")[0].isdigit():
                st.commits += 1
                with open(os.path.join(table_dir, rel)) as fh:
                    st.files_removed += sum("remove" in json.loads(line)
                                            for line in fh if line.strip())
        else:
            st.data_files += 1
            st.data_bytes += size
    return st


@dataclass
class Result:
    op: Op
    phase: str
    seconds: float = 0.0
    start: float = 0.0
    end: float = 0.0
    output: object = None
    error: str | None = None
    traced: bool = False
    trace_s: float = 0.0  # tracer bookkeeping inside the timed region
    cpu_s: float = 0.0  # CPU seconds of driver, JVM and workers
    commit: CommitStats | None = None
    jobs: JobStats | None = None
    ok: bool | None = None  # set by the output check

    @property
    def kind(self) -> str:
        return self.op.kind


@dataclass
class Env:
    """Everything an op needs: the session, the engine's datasources,
    the work directory and (in traced runs) the tracer and probe."""

    spark: object
    work: str
    tracer: Tracer | None = None
    probe: SparkProbe | None = None
    results: list[Result] = field(default_factory=list)
    _staged: int = 0

    def __post_init__(self) -> None:
        from x_spark.sources import init_datasource
        from x_spark.sources.txlog import TxLogDataSource

        self.txlog = TxLogDataSource(self.spark)      # maintenance API
        self.delta = init_datasource("delta", self.spark)  # SQL surface
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def table_dir(self, name: str) -> str:
        return self.txlog._table_path(table_ref(name))

    def span(self, name: str):
        """A tracer span in traced runs, else a no-op context."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def query(self, build):
        """Build a read's DataFrame, then collect it."""
        with self.span("query.build"):
            df = build()
        with self.span("query.collect"):
            return df.collect()

    def stage(self, batch: pa.Table, files: int) -> str:
        """Write ``batch`` as ``files`` parquet files in a fresh
        directory — the source an ETL job's YAML points at."""
        d = os.path.join(self.work, "stage", f"b{self._staged:05d}")
        self._staged += 1
        os.makedirs(d)
        step = -(-batch.num_rows // files)
        for i in range(files):
            pq.write_table(batch.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))
        return d

    def execute(self, op: Op, phase: str, run, table: str | None = None) -> Result:
        """Time ``run()``; ``table`` names the txlog table whose
        directory the op writes (for commit accounting)."""
        res = Result(op, phase)
        tdir = self.table_dir(table) if table else None
        before = dir_state(tdir) if tdir else None
        tracer = self.tracer
        res.traced = tracer is not None and tracer.active
        op_id = f"{phase}-{len(self.results)}-{op.kind}"
        if self.probe is not None:
            self.probe.begin(op_id)
        if tracer is not None:
            tracer.op_id = op_id
        own0 = tracer.own_s if tracer is not None else 0.0
        cpu0 = cpu_seconds(self.jvm_pid)
        res.start = time.time()
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{op.kind}"):
                res.output = run()
        except Exception as exc:  # an op failure is a result, not an abort
            res.error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        res.seconds = time.perf_counter() - t0
        res.end = time.time()
        res.cpu_s = cpu_seconds(self.jvm_pid) - cpu0
        if tracer is not None:
            res.trace_s = tracer.own_s - own0
        if tdir is not None:
            res.commit = commit_stats(tdir, before, dir_state(tdir))
        if res.traced and self.probe is not None:
            res.jobs = self.probe.collect(op_id)
        self.results.append(res)
        return res


def table_ref(name: str):
    """The engine's reference to the catalog-named txlog table."""
    from x_spark.sources.base import TableRef

    return TableRef(table=name)


def yaml_list(cols: list[str]) -> str:
    return json.dumps(cols).replace('"', "")
