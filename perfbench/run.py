"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It makes every input from ``--seed``,
sets up, runs closed-loop ops of one workload for ``--seconds``,
checks every op's output outside the timed region, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Scratch files live under
``.perfbench/`` in the checkout and are removed on exit; a traced run
leaves its span file in ``.perfbench/traces/``. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lakehouse_architecture_transaction_spark"

#: Scale factor of the generated lake (TPC-H ratios; 0.1 ≈ 600k lineitem).
SF = 0.03
#: ``prepare()`` repetitions whose median enters setup_s.
SETUP_REPS = 3
#: Hard wall-clock limit of one run.
LIMIT_S = 170
#: Work per run is fixed by --seconds, not by the clock: a run measures
#: round(seconds / UNIT_S) units (landing cycles, CDC steps, query
#: passes, stream drains), at least MIN_UNITS. UNIT_S is about one
#: unit's wall on a 4-core host, so a run measures roughly --seconds
#: there; a faster commit does the same work in less time.
UNIT_S = {"etl_landing": 3.0, "cdc_versioned": 0.75, "query_mix": 3.0, "stream_upsert": 1.5}
MIN_UNITS = 3
#: Untimed units before the timed ones, while the JIT settles: the
#: landing initial load and one cycle, four CDC steps, four drains.
#: The query_mix warm-up is its cold pass (QueryMix.warmup).
WARM_UNITS = {"etl_landing": 2, "cdc_versioned": 4, "stream_upsert": 4}

def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # a fixed-size heap: no heap resizing between runs
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem}'",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def _source_id() -> str:
    """Git commit when available, else a hash of the package sources
    (a source tree without .git has no commit)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src:" + h.hexdigest()[:16]


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit; kill it if it
    lingers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    t = threading.Thread(target=spark.stop, daemon=True)
    t.start()
    t.join(30)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort: the JVM is killed below if still alive
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse and friends land here
    spark = None
    watchdog = threading.Timer(LIMIT_S, _expire, args=(work,))
    watchdog.daemon = True
    watchdog.start()
    try:
        import workloads as W
        from lakehouse_architecture_transaction_spark.session import get_spark
        from spans import Tracer

        if args.workload not in W.WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
            return 2
        cpus = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, ui=bool(args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark if args.trace else None)
        ctx = W.Ctx(spark, args.seed, SF, work, cpus, tracer, storage=bool(args.trace))
        wl = W.WORKLOADS[args.workload](ctx)
        result = run(wl, args, ctx, session_s)
        prov = provenance(spark, args, cpus)
        print("provenance " + json.dumps(prov), flush=True)
        if args.trace:
            result["metrics"] = layer_metrics(wl, result.pop("_ops"), ctx, session_s, prov)
        else:
            result.pop("_ops")
        print(json.dumps(result), flush=True)
        return 0
    finally:
        watchdog.cancel()
        if spark is not None:
            _stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def _expire(work: str) -> None:
    print(f"error: run exceeded {LIMIT_S} s", file=sys.stderr, flush=True)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None) if SparkContext._gateway else None
    if proc is not None:
        proc.kill()
        proc.wait(10)
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def run(wl, args, ctx, session_s: float) -> dict:
    """Set up; run ``WARM_UNITS`` untimed units (checked, counted in
    setup_s); then run the timed units ``--seconds`` asks for. In a
    traced run, blocks of ``wl.trace_block`` timed units (default 1)
    are traced and untraced in turn."""
    prep = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warmup()
    wl.setup_detail = {"session_s": session_s, "prepare_s": prep, "warmup_s": time.perf_counter() - t}

    n_warm = WARM_UNITS.get(wl.name, 0)
    n_units = n_warm + max(MIN_UNITS, round(args.seconds / UNIT_S.get(wl.name, 1.0)))
    ops, failed, patches = [], 0, None
    t_first = None
    i = 0
    try:
        while True:
            unit = wl.unit(i)
            if unit >= n_units:
                break
            warm = unit < n_warm
            if not warm and t_first is None:
                t_first = time.perf_counter()
                if args.trace:
                    import spans

                    patches = spans.install(ctx.tracer)
            block = (unit - n_warm) // getattr(wl, "trace_block", 1)
            traced = bool(args.trace) and not warm and block % 2 == 0
            ctx.tracer.enabled = traced
            sp = ctx.tracer.begin_op(i, f"op.{wl.name}")
            try:
                rec = wl.op(i)
            except Exception:  # noqa: BLE001 - a raising op is counted, never dropped
                traceback.print_exc(file=sys.stderr)
                rec = None
            finally:
                ctx.tracer.end_op(sp)
                ctx.tracer.enabled = False
            i += 1
            if rec is None:
                ops.append(None)
                failed += 1
                continue
            rec.info.update(traced=traced, warm=warm, op=i - 1)
            ok = False
            try:
                ok = bool(rec.check())
            except Exception:  # noqa: BLE001 - a failed check is counted, never dropped
                traceback.print_exc(file=sys.stderr)
            if not ok:
                failed += 1
            rec.info["ok"] = ok
            ops.append(rec)
    finally:
        if patches is not None:
            import spans

            spans.uninstall(patches)
    t_loop = time.perf_counter()
    # process start to the first timed op, with the repeatable
    # prepare() counted once, by its median
    setup_s = (t_first or t_loop) - T_PROCESS - sum(prep) + median(prep)
    good = [o for o in ops if o is not None]
    if hasattr(wl, "oracle_check"):
        bad = set(wl.oracle_check())
        for q in sorted(bad):
            print(f"oracle mismatch: {q}", file=sys.stderr)
        for o in good:
            if o.info["query"] in bad and o.info["ok"]:
                o.info["ok"] = False
                failed += 1
    wl.setup_detail.update(
        setup_s=setup_s,
        timed_s=sum(o.seconds for o in good if not o.info["warm"]),
        loop_s=t_loop - (t_first or t_loop),
        final_check_s=time.perf_counter() - t_loop,
    )
    print("phases " + json.dumps(wl.setup_detail), file=sys.stderr, flush=True)
    print("ops " + json.dumps([(o.kind, o.info["warm"], round(o.seconds, 4)) for o in good]), file=sys.stderr, flush=True)
    metrics = e2e_metrics(wl, [o for o in good if not o.info["warm"]], setup_s, traced_only=None)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        "_ops": ops,
    }


UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s"}


def _unit_ops(wl, ops):
    """The ops whose latency is the workload's op_p50_s, and the
    (rows, seconds) its rows_per_s divides."""
    if wl.name == "etl_landing":
        unit = [o for o in ops if o.kind == "cycle"]
        return [o.seconds for o in unit], sum(o.rows for o in unit), sum(o.seconds for o in unit)
    if wl.name == "cdc_versioned":
        unit = [o for o in ops if o.kind == "upsert"]
        return [o.seconds for o in unit], sum(o.rows for o in unit), sum(o.seconds for o in ops)
    if wl.name == "query_mix":
        # a typical pass: each query's median over the passes, summed
        by_q = defaultdict(list)
        for o in ops:
            by_q[o.info["query"]].append(o.seconds)
        passes = [sum(median(v) for v in by_q.values())] if by_q else []
        return passes, sum(o.rows for o in ops), sum(o.seconds for o in ops)
    # stream_upsert: the micro-batches (triggerExecution) of the drains
    batches = [b["triggerExecution"] / 1000 for o in ops for b in o.info["progress"]]
    return batches, sum(o.rows for o in ops), sum(o.seconds for o in ops)


def e2e_metrics(wl, ops, setup_s: float, traced_only) -> dict:
    ops = [o for o in ops if not o.info.get("warm")]
    if traced_only is not None:
        ops = [o for o in ops if o.info.get("traced") == traced_only]
    lat, rows, secs = _unit_ops(wl, ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": float(median(lat)) if lat else 0.0,
        "rows_per_s": rows / secs if secs else 0.0,
    }


def provenance(spark, args, cpus: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "cpus": cpus,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "source": _source_id(),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "storage": "local filesystem, no fsync; reads hit the page cache (not device numbers)",
    }


def layer_metrics(wl, ops, ctx, session_s: float, prov: dict) -> dict:
    from layers import collect

    return collect(wl, ops, ctx, session_s, prov, e2e_metrics)


if __name__ == "__main__":
    sys.exit(main())
