"""Per-layer metrics of a traced run.

Every per-layer metric is printed for every workload. A layer the
workload does not call reads 0: the layer did no work there (the
metric → layer → workload map is in README.md). Timings are medians
over the traced ops; Spark totals are per traced op.
"""

from __future__ import annotations

import os
from collections import defaultdict
from statistics import median

import spans as sp
from workloads import QUERIES

SPARK = [
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
]
TABLE_OPS = ["create", "upsert", "append", "read", "scan", "diff", "compact", "vacuum"]
DATASETS = ["products", "orders", "order_items"]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [
        ("failed_op_ratio", "ratio"),
        ("trace.overhead_ratio", "ratio"),
        ("session.start_s", "s"),
        ("sources.read_s", "s"),
        ("sources.rows_in", "rows"),
        ("sources.corrupt_ratio", "ratio"),
        ("sources.cached_bytes", "bytes"),
        ("orchestration.cycle_s", "s"),
        ("orchestration.self_s", "s"),
        ("orchestration.files_archived", "count"),
        ("orchestration.files_quarantined", "count"),
        *[(f"pipelines.process_dataset_s.{d}", "s") for d in DATASETS],
        ("pipelines.self_s", "s"),
        ("pipelines.spark_jobs", "count"),
        ("pipelines.source_scans", "count"),
        ("validation.plan_s", "s"),
        ("validation.rejected_ratio", "ratio"),
        ("dedup.plan_s", "s"),
        ("dedup.duplicate_ratio", "ratio"),
        ("merge.plan_s", "s"),
        *[(f"table.{m}_s", "s") for m in TABLE_OPS],
        ("table.bytes_written_per_commit", "bytes"),
        ("table.files_written_per_commit", "count"),
        ("table.rows_rewritten_per_row_changed", "ratio"),
        ("table.scan_files_read_ratio", "ratio"),
        ("table.versions_retained", "count"),
        ("table.space_amp", "ratio"),
        ("write_amp", "ratio"),
        ("initial_load_s", "s"),
        ("snapshot_read_p50_s", "s"),
        ("diff_p50_s", "s"),
        ("microbatch_p50_s", "s"),
        ("streaming.trigger_p50_ms", "ms"),
        ("streaming.add_batch_p50_ms", "ms"),
        ("streaming.get_batch_p50_ms", "ms"),
        ("streaming.wal_commit_p50_ms", "ms"),
        ("streaming.batches", "count"),
        ("streaming.state_rows", "rows"),
        ("streaming.state_memory_bytes", "bytes"),
        ("plans.cold_pass_s", "s"),
    ]
    for q in QUERIES:
        out += [(f"plans.{q}_s", "s"), (f"plans.{q}.shuffle_bytes", "bytes")]
    out += [(f"spark.{k}", "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count") for k in SPARK]
    out.append(("spark.core_busy_ratio", "ratio"))
    return out


def _p50(xs) -> float:
    xs = list(xs)
    return float(median(xs)) if xs else 0.0


def _drop_scans(sql_execs: list[dict], job_ids: set[int], drop_names: set[str]) -> int:
    """Physical scans of a landing drop in the SQL executions that ran
    ``job_ids``: each ``Scan parquet`` section of the plan whose
    location names a drop directory counts once."""
    n = 0
    for ex in sql_execs:
        ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
        if not ids & job_ids:
            continue
        plan = ex.get("planDescription", "")
        for section in plan.split("\n\n"):
            if ") Scan parquet" in section and any(d in section for d in drop_names):
                n += 1
    return n


def collect(wl, ops, ctx, session_s: float, prov: dict, e2e) -> dict:
    tracer = ctx.tracer
    spans = tracer.spans
    rest = sp.SparkRest(ctx.spark)
    per_span = sp.spark_rollup(rest, spans)
    selfs = sp.self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    good = [o for o in ops if o is not None]
    traced = [o for o in good if o.info.get("traced")]
    m = dict.fromkeys((n for n, _u in names()), 0.0)
    m["failed_op_ratio"] = (len(ops) - sum(1 for o in good if o.info.get("ok"))) / max(len(ops), 1)
    # traced over untraced e2e op latency, ops interleaved in one session
    on = e2e(wl, good, 0.0, traced_only=True)["op_p50_s"]
    off = e2e(wl, good, 0.0, traced_only=False)["op_p50_s"]
    m["trace.overhead_ratio"] = on / off if off else 0.0
    m["session.start_s"] = session_s

    def p50_dur(name):
        return _p50(s.dur for s in by_name.get(name, []))

    op_spans = by_name.get(f"op.{wl.name}", [])
    op_wall = sum(s.dur for s in op_spans)
    tot = dict.fromkeys(SPARK, 0.0)
    for s in op_spans:
        for k in SPARK:
            tot[k] += per_span[s.id][k]
    n_ops = max(len(op_spans), 1)
    for k in SPARK:
        m[f"spark.{k}"] = tot[k] / n_ops
    m["spark.core_busy_ratio"] = tot["executor_run_s"] / (op_wall * ctx.cpus) if op_wall else 0.0

    if wl.name == "etl_landing":
        _etl(m, good, traced, by_name, selfs, per_span, rest)
    elif wl.name == "cdc_versioned":
        _cdc(m, wl, traced)
    elif wl.name == "query_mix":
        _queries(m, wl, by_name, per_span)
    else:
        _stream(m, traced)
    for name in ("table." + t for t in TABLE_OPS):
        if by_name.get(name):
            m[name + "_s"] = p50_dur(name)
    m["merge.plan_s"] = p50_dur("merge.merge_upsert")

    os.makedirs(os.path.join(os.path.dirname(ctx.work), "traces"), exist_ok=True)
    path = os.path.join(os.path.dirname(ctx.work), "traces", f"{wl.name}-seed{ctx.seed}.json")
    tracer.dump(
        path,
        {
            "provenance": prov,
            "self_s": {str(k): v for k, v in selfs.items()},
            "spark": {str(k): v for k, v in per_span.items()},
            "setup": getattr(wl, "setup_detail", {}),
            "ops": [None if o is None else {"kind": o.kind, "seconds": o.seconds, "rows": o.rows, **o.info} for o in ops],
            "metrics": m,
        },
    )
    print(f"spans written to {path}", flush=True)
    units = dict(names())
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def _etl(m, good, traced, by_name, selfs, per_span, rest) -> None:
    cycles = [o for o in traced if o.kind == "cycle"]
    init = [o for o in good if o.kind == "initial_load"]
    m["initial_load_s"] = init[0].seconds if init else 0.0
    by_op = defaultdict(list)
    for s in by_name.get("sources.ingest", []):
        by_op[s.op].append(s.dur)
    cyc_ops = {o.info["op"] for o in cycles}
    m["sources.read_s"] = _p50(sum(v) for k, v in by_op.items() if k in cyc_ops)
    m["sources.rows_in"] = _p50(o.info["lines"] for o in cycles)
    m["sources.corrupt_ratio"] = sum(o.info["corrupt_lines"] for o in cycles) / max(sum(o.info["lines"] for o in cycles), 1)
    m["sources.cached_bytes"] = float(rest.cached_bytes())
    landing = [s for s in by_name.get("orchestration.process_landing", []) if s.op in cyc_ops]
    m["orchestration.cycle_s"] = _p50(s.dur for s in landing)
    m["orchestration.self_s"] = _p50(selfs[s.id] for s in landing)
    statuses = [st for s in landing for st in s.attrs.get("statuses", [])]
    m["orchestration.files_archived"] = statuses.count("archived") / max(len(landing), 1)
    m["orchestration.files_quarantined"] = statuses.count("quarantined") / max(len(landing), 1)
    pds = [s for s in by_name.get("pipelines.process_dataset", []) if s.op in cyc_ops]
    for d in DATASETS:
        m[f"pipelines.process_dataset_s.{d}"] = _p50(s.dur for s in pds if s.attrs.get("dataset") == d)
    per_cycle_self = defaultdict(float)
    for s in pds:
        per_cycle_self[s.op] += selfs[s.id]
    m["pipelines.self_s"] = _p50(per_cycle_self.values())
    m["pipelines.spark_jobs"] = sum(per_span[s.id]["jobs"] for s in pds) / max(len(pds), 1)
    sql = rest.sql()
    scans = 0
    for s in pds:
        drop = f"{s.attrs.get('dataset')}_c"
        scans += _drop_scans(sql, set(per_span[s.id]["job_ids"]), {f"/landing/{drop}", f"/archive/{drop}"})
    m["pipelines.source_scans"] = scans / max(len(pds), 1)
    m["validation.plan_s"] = _p50(s.dur for s in by_name.get("validation.validate", []) if s.op in cyc_ops)
    m["dedup.plan_s"] = _p50(s.dur for s in by_name.get("dedup.dedup_exact", []) if s.op in cyc_ops)
    parsed = sum(o.info["lines"] - o.info["corrupt_lines"] for o in cycles)
    rejected = sum(s.attrs.get("rejected_rows", 0) for s in pds)
    valid = sum(s.attrs.get("valid_rows", 0) for s in pds)
    m["validation.rejected_ratio"] = rejected / parsed if parsed else 0.0
    m["dedup.duplicate_ratio"] = (parsed - rejected - valid) / (parsed - rejected) if parsed > rejected else 0.0
    commits = sum(1 + (s.attrs.get("rejected_rows", 0) > 0) for s in pds)
    m["table.bytes_written_per_commit"] = sum(o.info["bytes_written"] for o in cycles) / max(commits, 1)
    m["table.files_written_per_commit"] = sum(o.info["files_written"] for o in cycles) / max(commits, 1)
    # rows in the parquet files the cycle wrote, per row it committed
    # (valid rows merged plus rejected rows appended)
    rows_written = sum(o.info["rows_written"] for o in cycles)
    m["table.rows_rewritten_per_row_changed"] = rows_written / max(valid + rejected, 1)
    m["write_amp"] = sum(o.info["bytes_written"] for o in cycles) / max(sum(o.info["csv_bytes"] for o in cycles), 1)


def _cdc(m, wl, traced) -> None:
    ups = [o for o in traced if o.kind == "upsert"]
    reads = [o for o in traced if o.kind in ("scan", "read")]
    m["snapshot_read_p50_s"] = _p50(o.seconds for o in reads)
    m["diff_p50_s"] = _p50(o.seconds for o in traced if o.kind == "diff")
    m["table.bytes_written_per_commit"] = _p50(o.info["bytes_written"] for o in ups)
    m["table.files_written_per_commit"] = _p50(o.info["files_written"] for o in ups)
    m["table.rows_rewritten_per_row_changed"] = _p50(o.info["rows_written"] / o.info["batch_rows"] for o in ups)
    scans = [o for o in traced if o.kind == "scan"]
    m["table.scan_files_read_ratio"] = sum(o.info["files_read"] for o in scans) / max(
        sum(o.info["files_total"] for o in scans), 1
    )
    space = wl.space()
    m["table.versions_retained"] = float(space["versions_retained"])
    m["table.space_amp"] = space["space_amp"]
    m["write_amp"] = sum(o.info["bytes_written"] for o in ups) / max(sum(o.info["batch_bytes"] for o in ups), 1)


def _queries(m, wl, by_name, per_span) -> None:
    m["plans.cold_pass_s"] = wl.cold_pass_s
    for q in QUERIES:
        qs = [s for s in by_name.get("plans.query", []) if s.attrs.get("query") == q]
        m[f"plans.{q}_s"] = _p50(s.dur for s in qs)
        m[f"plans.{q}.shuffle_bytes"] = _p50(per_span[s.id]["shuffle_write_bytes"] for s in qs)


def _stream(m, traced) -> None:
    batches = [b for o in traced for b in o.info["progress"]]
    m["microbatch_p50_s"] = _p50(b["triggerExecution"] / 1000 for b in batches)
    for key, name in (
        ("triggerExecution", "trigger"),
        ("addBatch", "add_batch"),
        ("getBatch", "get_batch"),
        ("walCommit", "wal_commit"),
    ):
        m[f"streaming.{name}_p50_ms"] = _p50(b[key] for b in batches)
    m["streaming.batches"] = len(batches) / max(len(traced), 1)
    last = [o.info["progress"][-1] for o in traced if o.info["progress"]]
    m["streaming.state_rows"] = _p50(b["state_rows"] for b in last)
    m["streaming.state_memory_bytes"] = _p50(b["state_memory_bytes"] for b in last)
    commits = len(batches)
    m["table.bytes_written_per_commit"] = sum(o.info["bytes_written"] for o in traced) / max(commits, 1)
    m["table.files_written_per_commit"] = sum(o.info["files_written"] for o in traced) / max(commits, 1)
    m["write_amp"] = sum(o.info["bytes_written"] for o in traced) / max(sum(o.info["slice_bytes"] for o in traced), 1)
