"""Spans recorded around calls into each layer, and the Spark event log
parsed per job group."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    span_id: int
    group: str | None = None


@dataclass
class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and set no
    job group, so untraced passes run the same calls without the cost."""

    enabled: bool
    spark_context: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _ops: int = 0

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, op: bool = False):
        """Time the block as span ``name``.  ``op=True`` starts a new client
        op id, which nested spans share; with ``group``, the block's Spark
        jobs are tagged with that job group too."""
        if not self.enabled:
            yield
            return
        sc = self.spark_context
        if group is not None and sc is not None:
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        if op:
            self._ops += 1
        op_id = self._ops if op else (self.spans[parent].op_id if parent is not None else 0)
        sid = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id, sid, group))
        self._stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid].end = time.perf_counter()
            self._stack.pop()
            if group is not None and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [dict(asdict(s), self_s=self_time(self.spans, s)) for s in self.spans],
                    **extra,
                },
                fh,
                indent=1,
            )


def self_time(spans: list[Span], span: Span) -> float:
    """Duration of ``span`` minus the part of it its children cover."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.span_id
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


EXEC_KEYS = (
    "executor_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


def _zero_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in EXEC_KEYS}}


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``: plain files, or
    the parts of Spark's rolling ``eventlog_v2_*`` directories in order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        elif not entry.startswith("."):
            out.append(path)
    return out


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Jobs, executed stages, tasks and task metrics per ``spark.jobGroup.id``
    (jobs without a group fall under ``""``).  Times are seconds; memory and
    shuffle figures are bytes; ``peak_exec_mem_bytes`` is the largest one
    task's peak."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"Event"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups.setdefault(g, _zero_group())["jobs"] += 1
                    for st in ev.get("Stage Infos", []):
                        stage_group.setdefault(st["Stage ID"], g)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = stage_group.get(sid, "")
                    groups.setdefault(g, _zero_group())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    acc = groups.setdefault(g, _zero_group())
                    acc["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["peak_exec_mem_bytes"] = max(
                        acc["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                    )
    return groups


def sum_groups(groups: dict[str, dict], names) -> dict:
    """Add up the figures of the named job groups (peak memory: the max)."""
    out = _zero_group()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for k, v in g.items():
            out[k] = max(out[k], v) if k == "peak_exec_mem_bytes" else out[k] + v
    return out


def credit_stream_runs(
    groups: dict[str, dict], run_starts: dict[str, float], spans: list[Span]
) -> dict[str, dict]:
    """Fold each streaming run's job group into the group of the innermost
    span that was open when the run started.

    Spark runs a streaming query's micro-batches on the query's own thread
    under job group ``<runId>``, not under the group of the caller that
    started it; ``run_starts`` maps each run id to the moment it started
    (``onQueryStarted`` runs before ``start()`` returns).  Runs that started
    outside every grouped span keep their own group."""
    out = dict(groups)
    for run, t in run_starts.items():
        if run not in out:
            continue
        owners = [s for s in spans if s.group is not None and s.start <= t <= s.end]
        if not owners:
            continue
        g = max(owners, key=lambda s: s.start).group
        out[g] = sum_groups({g: out.get(g, _zero_group()), run: out.pop(run)}, (g, run))
    return out
