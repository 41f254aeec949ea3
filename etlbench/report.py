"""End-to-end metrics, the failure count and the report lines.

Only ops of the measured window count toward the end-to-end metrics;
set-up and warm-up ops count only as failures when they fail.
"""

from __future__ import annotations

from dataclasses import dataclass

from etlbench.harness import Result
from etlbench.opgen import WRITE_KINDS
from etlbench.stats import TAIL_BEYOND, gmean, median, tail

# name -> (unit, better, bound); BENCHMARK.json lists the same metrics.
# These are the metrics whose run-to-run spread stays inside a bound on
# a shared 4-core VM. Wall-clock latency and throughput head the report
# lines but carry no bound: the VM's speed drifted by a third over tens
# of minutes, and across ten seeds their quartile spread reached 0.3.
# CPU seconds per op drift less (a slow run mostly waits) but still
# follow the host, hence the widest bound.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_s_per_op": ("s", "lower", 0.25),
    "disk_bytes_per_live_byte": ("ratio", "lower", 0.1),
    "peak_rss_mb": ("MB", "lower", 0.1),
}


@dataclass
class Setup:
    session_s: float
    warmup_s: float
    prepare_s: float
    reps: list[float]

    @property
    def total(self) -> float:
        """Session start + warm-up + one-time build + the median of
        the repeated table set-ups."""
        return self.session_s + self.warmup_s + self.prepare_s + median(self.reps)


@dataclass
class Outcome:
    correct: bool
    attempted: int
    failed: int


def outcome(results: list[Result], window: list[Result], final_ok: bool) -> Outcome:
    """A window op fails when it raised or its output was wrong; a
    wrong final table state and a failed set-up job count once more."""
    failed = sum(1 for r in window if r.error is not None or r.ok is False)
    failed += sum(1 for r in results if r.phase != "window" and r.error is not None)
    failed += 0 if final_ok else 1
    attempted = len(window)
    failed = min(failed, attempted)
    return Outcome(correct=failed == 0 and final_ok, attempted=attempted, failed=failed)


def p50(window: list[Result], kind: str | None = None) -> float:
    return median(r.seconds for r in window if kind is None or r.kind == kind)


def end_to_end(window: list[Result], setup: Setup, disk: float,
               rss_mb: tuple[float, float]) -> tuple[dict, dict]:
    metrics = {
        "setup_s": setup.total,
        "cpu_s_per_op": sum(r.cpu_s for r in window) / len(window),
        "disk_bytes_per_live_byte": disk,
        "peak_rss_mb": sum(rss_mb),
    }
    return metrics, {k: END_TO_END[k][0] for k in metrics}


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def lines(args, setup: Setup, window: list[Result], metrics: dict, units: dict,
          result: Outcome, cycles: int, rss_mb: tuple[float, float]) -> list[str]:
    """Every end-to-end metric plus the per-kind latencies, the tail,
    write volume and the failure share, by name and unit."""
    busy = sum(r.seconds for r in window)
    out = [f"etlbench workload={args.workload} seed={args.seed} cycles={cycles} "
           f"ops={len(window)} busy_s={busy:.3f}",
           f"  {'ops_per_s':<26} {_fmt(len(window) / busy)} 1/s (wall clock, no bound)",
           f"  {'op_gmean_s':<26} {_fmt(gmean(r.seconds for r in window))} s "
           f"(geometric mean latency, no bound)"]
    for name, value in metrics.items():
        out.append(f"  {name:<26} {_fmt(value)} {units[name]}")
    out.append(f"  {'setup parts':<26} session {setup.session_s:.2f} s, warm-up "
               f"{setup.warmup_s:.2f} s, once {setup.prepare_s:.2f} s, repeated "
               f"{' / '.join(f'{r:.2f}' for r in setup.reps)} s (median taken)")
    out.append(f"  {'peak_rss parts':<26} python {rss_mb[0]:.0f} MB, jvm {rss_mb[1]:.0f} MB")
    out.append(f"  {'op_p50_s':<26} {_fmt(p50(window))} s (n={len(window)})")
    for kind in sorted({r.kind for r in window}):
        n = sum(r.kind == kind for r in window)
        out.append(f"  {kind + '_p50_s':<26} {_fmt(p50(window, kind))} s (n={n})")
    t = tail([r.seconds for r in window])
    if t is None:
        out.append(f"  {'op_tail_s':<26} n/a: {len(window)} samples, a tail needs "
                   f"more than {TAIL_BEYOND}")
    else:
        pct, value, n = t
        out.append(f"  {'op_tail_s':<26} {_fmt(value)} s (p{pct:.1f}, n={n})")
    writes = [r for r in window if r.kind in WRITE_KINDS]
    rows = sum(r.op.rows for r in writes)
    if writes:
        added = sum(r.commit.added_bytes for r in writes if r.commit)
        out.append(f"  {'rows_per_s':<26} {_fmt(rows / busy)} rows/s")
        out.append(f"  {'write_bytes_per_row':<26} {_fmt(added / rows)} B/row")
    out.append(f"  {'failed_frac':<26} {result.failed}/{result.attempted}")
    out.append(f"  check: {'correct' if result.correct else 'WRONG OUTPUT'}")
    return out


def trace_lines(args, metrics: dict, window: list[Result]) -> list[str]:
    """Per-layer metrics, then Spark jobs and tasks per op kind."""
    from etlbench.layers import per_kind_jobs

    out = [f"etlbench trace workload={args.workload} seed={args.seed} ops={len(window)}"]
    for name, value in metrics.items():
        out.append(f"  {name:<32} {_fmt(value)} {unit(name)}")
    for kind, (jobs, tasks, n) in per_kind_jobs(window).items():
        out.append(f"  {'spark.jobs.' + kind:<32} {_fmt(jobs)} count (n={n})")
        out.append(f"  {'spark.tasks.' + kind:<32} {_fmt(tasks)} count (n={n})")
    return out
