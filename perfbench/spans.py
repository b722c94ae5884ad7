"""Spans around the program's public functions, and Spark stage metrics.

Tracing lives in the benchmark's own files: :func:`install` wraps the
public functions of each layer where their callers look them up, and
every wrapper records a span (name, start, end, parent, op id) in
memory. On enter a span adds a Spark job tag (``SparkContext.addJobTag``,
a thread-local property, so jobs started from a ``foreachBatch``
callback thread carry the tags of the spans open on that thread).
After the run, :func:`spark_rollup` reads jobs, stages and SQL
executions from the Spark UI REST API and attributes each stage to the
spans whose tag its job carries.

Spans of lazy functions (``validate``, ``dedup_exact``,
``merge_upsert``, ``read_csv_enforced``) time plan building only; the
executed cost lands in the span of the action that runs it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int  # id shared by the spans of one benchmark op (-1: outside ops)
    parent: int | None
    thread: str
    start: float  # perf_counter seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. ``enabled`` toggles recording without
    unwrapping, so one process can interleave traced and untraced ops."""

    def __init__(self, spark=None) -> None:
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_span: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # a callback thread (foreachBatch) has no open span of its own:
        # its parent is the op span of the client thread
        parent = stack[-1].id if stack else (self._op_span.id if self._op_span else None)
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(
            id=sid,
            name=name,
            op=self.op,
            parent=parent,
            thread=threading.current_thread().name,
            start=time.perf_counter(),
            attrs=attrs,
        )
        stack.append(sp)
        if self.sc is not None:
            self.sc.addJobTag(f"bspan-{sid}")
        return sp

    def finish(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        if self.sc is not None:
            self.sc.removeJobTag(f"bspan-{sp.id}")
        with self._lock:
            self.spans.append(sp)

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def begin_op(self, op: int, name: str) -> Span | None:
        self.op = op
        sp = self.start(name)
        self._op_span = sp
        return sp

    def end_op(self, sp: Span | None) -> None:
        self.finish(sp)
        self._op_span = None
        self.op = -1

    def wrap(self, name: str, fn, attrs_of=None, result_attrs=None):
        """``fn`` recording a span per call; ``attrs_of(*args)`` and
        ``result_attrs(result)`` add attributes to the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sp = self.start(name, **(attrs_of(*args, **kwargs) if attrs_of else {}))
            try:
                out = fn(*args, **kwargs)
                if result_attrs is not None and sp is not None:
                    sp.attrs.update(result_attrs(out))
                return out
            finally:
                self.finish(sp)

        return wrapper

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs, self.sp = tracer, name, attrs, None

    def __enter__(self):
        self.sp = self.tracer.start(self.name, **self.attrs)
        return self.sp

    def __exit__(self, *exc):
        self.tracer.finish(self.sp)
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by the
    union of its direct children's intervals."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = max(s.dur - covered, 0.0)
    return out


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap each layer's public functions where the caller looks them
    up. Returns the patches so :func:`uninstall` can restore them."""
    from lakehouse_architecture_transaction_spark import orchestration, pipelines
    from lakehouse_architecture_transaction_spark.lakehouse import table
    from lakehouse_architecture_transaction_spark.sources import csv as csv_source
    from lakehouse_architecture_transaction_spark.streaming import pipeline as stream

    def ds_attr(spark, df, spec, lake_root):
        return {"dataset": spec.name}

    def stage_result(out):
        res, _curated = out
        return {"valid_rows": res.valid_rows, "rejected_rows": res.rejected_rows}

    def landing_result(results):
        return {"statuses": [r.status for r in results]}

    patches = [
        (csv_source, "read_csv_enforced", "sources.read_csv_enforced", None, None),
        (orchestration, "process_landing", "orchestration.process_landing", None, landing_result),
        (orchestration, "process_dataset", "pipelines.process_dataset", ds_attr, stage_result),
        (pipelines, "validate", "validation.validate", None, None),
        (pipelines, "dedup_exact", "dedup.dedup_exact", None, None),
        (table, "merge_upsert", "merge.merge_upsert", None, None),
        (stream, "read_event_stream", "streaming.read_event_stream", None, None),
        (stream, "hourly_stream_agg", "streaming.hourly_stream_agg", None, None),
        (stream, "stream_upsert_into", "streaming.stream_upsert_into", None, None),
    ]
    for m in ("create", "upsert", "append", "compact", "vacuum"):
        patches.append((table.LakeTable, m, f"table.{m}", None, None))
    done = []
    for owner, attr, name, attrs_of, result_attrs in patches:
        orig = getattr(owner, attr)
        setattr(owner, attr, tracer.wrap(name, orig, attrs_of, result_attrs))
        done.append((owner, attr, orig))
    return done


def uninstall(patches) -> None:
    for owner, attr, orig in reversed(patches):
        setattr(owner, attr, orig)


# ------------------------------------------------------- Spark metrics

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_bytes": ("outputBytes", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _ms(ts: str | None) -> float | None:
    """Spark REST timestamps look like 2026-01-01T00:00:00.123GMT."""
    if not ts:
        return None
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp() * 1000


class SparkRest:
    """Reads jobs, stages and SQL executions of the live application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def wait_idle(self, timeout_s: float = 20.0) -> None:
        """The UI listener is asynchronous: wait until no job is still
        listed as running."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if not any(j["status"] == "RUNNING" for j in _get(f"{self.base}/jobs")):
                return
            time.sleep(0.2)

    def jobs(self) -> list[dict]:
        return _get(f"{self.base}/jobs")

    def stages(self) -> dict[tuple[int, int], dict]:
        return {(s["stageId"], s["attemptId"]): s for s in _get(f"{self.base}/stages")}

    def sql(self) -> list[dict]:
        return _get(f"{self.base}/sql?details=true&planDescription=true&length=100000")

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in _get(f"{self.base}/storage/rdd"))


def stage_totals(stages: list[dict]) -> dict[str, float]:
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["stages"] = float(len(stages))
    out["scheduler_delay_s"] = 0.0
    for st in stages:
        if st.get("status") == "SKIPPED":
            out["stages"] -= 1
            continue
        for k, (src, scale) in STAGE_FIELDS.items():
            out[k] += st.get(src, 0) * scale
        sub, first = _ms(st.get("submissionTime")), _ms(st.get("firstTaskLaunchedTime"))
        if sub is not None and first is not None:
            out["scheduler_delay_s"] += max(first - sub, 0.0) / 1000
    return out


def spark_rollup(rest: SparkRest, spans: list[Span]) -> dict[int, dict]:
    """Per-span Spark totals, by span id: jobs carrying the span's tag
    and their stages (every attempt)."""
    rest.wait_idle()
    jobs = rest.jobs()
    stages = rest.stages()
    by_stage_id: dict[int, list[dict]] = defaultdict(list)
    for (sid, _att), st in stages.items():
        by_stage_id[sid].append(st)
    per_span: dict[int, dict] = {}
    tagged = defaultdict(list)
    for j in jobs:
        for tag in j.get("jobTags", []):
            if tag.startswith("bspan-"):
                tagged[int(tag[6:])].append(j)
    for s in spans:
        js = tagged.get(s.id, [])
        sts = [st for j in js for sid in j.get("stageIds", []) for st in by_stage_id.get(sid, [])]
        tot = stage_totals(sts)
        tot["jobs"] = float(len(js))
        tot["job_ids"] = sorted(j["jobId"] for j in js)
        per_span[s.id] = tot
    return per_span
